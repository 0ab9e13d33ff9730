"""Core Table: a mutable handle over an immutable Spark DataFrame.

Capability parity with the reference's ``Table`` (littletable.py:1095+):
an *ordered* bag of records with ORM-flavored query methods, hash-index
semantics, and full-text search — re-expressed Spark-first:

- every relational op is a native DataFrame transformation (Catalyst
  optimizes: pushdown, pruning, join selection, AQE);
- order is an explicit ``__row_ord__``/``__epoch__`` column pair, never
  partition order (see ``plans/ordering.py`` for the scale design);
- "mutation" re-points the handle at a new DataFrame and bumps a version
  stamp, which is what invalidates search indexes (the reference's
  ``_contents_changed``, littletable.py:2078-2086);
- Python callables are accepted everywhere the reference accepts them
  (where/select/compute_field/transforms) but degrade to UDFs — the
  documented slow path; comparator objects and string expressions stay
  JVM-side.
"""

from __future__ import annotations

import random
from types import SimpleNamespace
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SQLT

from . import comparators as cmp
from .comparators import Comparator
from .functions import convert as _convert
from .exceptions import (
    NoSuchIndexError,
    SearchIndexInconsistentError,
    UniqueKeyViolation,
)
from .functions.rows import _normalize_value, to_row_dict
from .plans.ordering import ROW_ORD, ROW_SUB, dense_index, ensure_row_ord
from .session import scoped_persist
from .sources.parquet_io import read_parquet

EPOCH = "__epoch__"
SORTKEY = "__sortkey__"
# __run__ is grouping's consecutive-run id (operators/grouping.py) —
# internal wherever a row object is built
INTERNAL = (ROW_ORD, ROW_SUB, EPOCH, SORTKEY, "__run__")


def _is_internal(col_name: str) -> bool:
    return col_name in INTERNAL or col_name.startswith(SORTKEY)


def _pytype_to_spark(v: Any) -> str | None:
    """Spark type name for a sample Python value; None -> untyped
    (string) UDF fallback. bool before int: bool is an int subclass."""
    import datetime as _dt

    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, _dt.datetime):
        return "timestamp"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, bytes):
        return "binary"
    return None


class _IndexInfo:
    __slots__ = ("attr", "unique", "accept_none", "cached")

    def __init__(
        self, attr: str, unique: bool, accept_none: bool, cached: bool = False
    ) -> None:
        self.attr = attr
        self.unique = unique
        self.accept_none = accept_none
        self.cached = cached


class _IndexAccessor:
    """``table.by.attr`` — keyed access (littletable.py:533-597, 684-743)."""

    def __init__(self, table: "Table", attr: str) -> None:
        self._table = table
        self._attr = attr
        self._info = table._indexes[attr]

    def _cached_lookup(self, key: Any) -> Any:
        """Driver-side hot map for unique point lookups.

        ``by.id[k]`` is O(1) in the reference but a Spark job here
        (SURVEY §7.3.8); with ``create_index(cache=True)`` the key→row
        map is collected once per table version and point lookups stop
        launching jobs. Only sensible for dimension-sized tables.
        """
        t = self._table
        cache, version = t._index_caches.get(self._attr, (None, -1))
        if cache is None or version != t._version:
            rows = t._ordered_df().collect()
            cache = {}
            for r in rows:
                k = r[self._attr]
                if k is not None and k not in cache:
                    cache[k] = t._make_row(r)
            t._index_caches[self._attr] = (cache, t._version)
        if key not in cache:
            raise KeyError(key)
        return cache[key]

    def __getitem__(self, key: Any) -> Any:
        t = self._table
        if self._info.cached and self._info.unique and not isinstance(key, slice):
            return self._cached_lookup(key)
        if isinstance(key, slice):
            if key.step is not None:
                raise ValueError("stepped slices not supported on index access")
            comp: Comparator | None = None
            if key.start is not None and key.stop is not None:
                comp = cmp.in_range(key.start, key.stop)
            elif key.start is not None:
                comp = cmp.ge(key.start)
            elif key.stop is not None:
                comp = cmp.lt(key.stop)
            return t.where(**{self._attr: comp}) if comp else t.clone()
        result = t.where(**{self._attr: key})
        if self._info.unique:
            rows = result._ordered_df().limit(1).collect()
            if not rows:
                raise KeyError(key)
            return t._make_row(rows[0])
        return result

    def __contains__(self, key: Any) -> bool:
        return not self._table.where(**{self._attr: key}).is_empty()

    def get(self, key: Any, default: Any = None) -> Any:
        try:
            return self[key]
        except KeyError:
            return default

    def keys(self) -> list:
        col = self._attr
        rows = self._table._df.select(col).distinct().orderBy(col).collect()
        return [r[col] for r in rows]

    # Mapping surface (the reference registers its index wrapper as a
    # collections.abc.Mapping, littletable.py:587): keys iterate in
    # first-occurrence table order like dict insertion order
    def __iter__(self) -> Iterator[Any]:
        seen: set = set()
        for row in (
            self._table._ordered_df().select(self._attr).toLocalIterator()
        ):
            v = row[self._attr]
            if v not in seen:
                seen.add(v)
                yield v

    def __len__(self) -> int:
        return self._table._df.select(self._attr).distinct().count()

    def values(self) -> Iterator[Any]:
        for k in self:
            yield self[k]

    def items(self) -> Iterator[tuple[Any, Any]]:
        for k in self:
            yield (k, self[k])


class _ByAccessor:
    def __init__(self, table: "Table") -> None:
        self._table = table

    def __getattr__(self, attr: str) -> _IndexAccessor:
        if attr.startswith("_"):
            raise AttributeError(attr)
        if attr not in self._table._indexes:
            raise NoSuchIndexError(f"no index on attribute {attr!r}")
        return _IndexAccessor(self._table, attr)


class _FieldValues:
    """``table.all.attr`` — ordered column-value iterator (littletable.py:605-634)."""

    def __init__(self, table: "Table", attr: str) -> None:
        self._table = table
        self._attr = attr

    def __iter__(self) -> Iterator[Any]:
        for row in self._table._ordered_df().select(self._attr).toLocalIterator():
            yield row[self._attr]

    @property
    def unique(self) -> Iterator[Any]:
        seen: set = set()
        for v in self:
            if v not in seen:
                seen.add(v)
                yield v


class _AllAccessor:
    def __init__(self, table: "Table") -> None:
        self._table = table

    def __getattr__(self, attr: str) -> _FieldValues:
        if attr.startswith("_"):
            raise AttributeError(attr)
        return _FieldValues(self._table, attr)


def _row_to_ns(row, row_class: type | None = None) -> Any:
    d = row.asDict(recursive=True)
    for c in list(d):
        if _is_internal(c):
            d.pop(c)
    return (row_class or SimpleNamespace)(**d)


def _slice_member(start: int, stop: int, step: int) -> Column:
    """Whether a dense position (``ROW_ORD``) is in ``range(start, stop,
    step)``, for a step of either sign (``slice.indices`` bounds)."""
    pos = F.col(ROW_ORD)
    if step > 0:
        bounded = (pos >= F.lit(start)) & (pos < F.lit(stop))
    else:
        bounded = (pos <= F.lit(start)) & (pos > F.lit(stop))
    return bounded & ((pos - F.lit(start)) % F.lit(step) == 0)


def _q(name: str) -> str:
    # a quoted reference: field names may hold backticks, spaces or dots
    return "`" + name.replace("`", "``") + "`"


def _reconcile_cell_types(old: DataFrame, new: DataFrame):
    """Reconcile heterogeneous cell types across batches up front (a
    union would otherwise insert an implicit cast that fails at
    runtime): integral+integral widens to bigint, any other numeric mix
    to double, anything else to string — mirroring the reference's
    untyped cells without degrading int keys to floats."""
    integral = {"byte", "short", "integer", "long"}
    numeric = integral | {"float", "double", "decimal"}
    for f in new.schema.fields:
        if f.name in old.columns:
            old_t = old.schema[f.name].dataType
            if old_t != f.dataType and not isinstance(
                f.dataType, SQLT.NullType
            ) and not isinstance(old_t, SQLT.NullType):
                on, nn = old_t.typeName(), f.dataType.typeName()
                if on in integral and nn in integral:
                    target = "bigint"
                elif on in numeric and nn in numeric:
                    target = "double"
                else:
                    target = "string"
                old = old.withColumn(f.name, F.col(f.name).cast(target))
                new = new.withColumn(f.name, F.col(f.name).cast(target))
    return old, new


class Table:
    """Spark-native re-expression of the reference Table."""

    # join-type constants (littletable.py outer_join API). The
    # reference's LEFT/RIGHT naming is INVERTED relative to SQL — its
    # key universe comes from the *other* table for LEFT and from *self*
    # for RIGHT (littletable.py:2631-2658; canonical example
    # unit_tests.py:1768-1783 finds unregistered students with
    # students.outer_join(RIGHT_OUTER_JOIN, registrations)). The
    # constants reproduce that observable behavior for drop-in parity;
    # pass plain SQL strings ("left"/"right"/"full") for SQL semantics.
    INNER_JOIN = "inner"
    LEFT_OUTER_JOIN = "ref_left"
    RIGHT_OUTER_JOIN = "ref_right"
    FULL_OUTER_JOIN = "full"

    # ------------------------------------------------------------------ #
    # construction

    def __init__(
        self,
        name: str = "",
        df: DataFrame | None = None,
        spark: SparkSession | None = None,
    ) -> None:
        self.table_name = name
        self._spark = spark or (df.sparkSession if df is not None else None)
        self._df: DataFrame | None = None
        if df is not None:
            self._df = self._with_internal(df)
        self._sort: list[tuple[str, bool]] = []  # (expr, ascending)
        self._sort_udf_cols: list[Column] | None = None
        self._indexes: dict[str, _IndexInfo] = {}
        self._index_caches: dict[str, tuple[dict | None, int]] = {}
        self._search_indexes: dict[str, Any] = {}
        self._version = 0
        self._len_cache: int | None = None
        # pre-collected rows in table order (set by collect-once paths
        # like groupby_iter(materialize=True)); iteration/len use them
        # without launching a Spark job. Invalidated on any mutation.
        self._prefetched: list | None = None
        self._next_epoch = 1
        self.import_source = None
        self.import_source_type = None
        # lifecycle timestamps (littletable.py:1301-1303, 2086, 2868)
        import datetime as _dt

        self.create_time = _dt.datetime.now().astimezone(_dt.timezone.utc)
        self.modify_time = self.create_time
        self.import_time = None
        # user row type: rows materialize as row_class(**fields) like the
        # reference (littletable.py:2751-2758 row_class= importer kwarg;
        # constructed per row at 2846). None -> SimpleNamespace.
        self._row_class: type | None = None

    @property
    def row_class(self) -> type:
        return self._row_class or SimpleNamespace

    @row_class.setter
    def row_class(self, cls: type | None) -> None:
        self._row_class = cls

    def _make_row(self, row) -> Any:
        return _row_to_ns(row, self._row_class)

    def _row_udf(
        self, fn: Callable, rtype: str | None, on_error: Any, attr: str | None = None
    ) -> Column:
        """The one path from a Python callable to a Column. ``fn`` runs
        on the executors over each row, built by ``_row_to_ns`` exactly
        as iteration yields it (this table's ``row_class``, nested
        structs as dicts); with ``attr`` only that column ships and
        ``fn`` gets its value as iteration yields it. An exception gives
        ``on_error``; ``rtype`` None is string."""
        row_class = self._row_class

        def call(v):  # no hints: pyspark would try to infer an Arrow UDF
            try:
                if attr is None:
                    v = _row_to_ns(v, row_class)
                elif isinstance(v, (Row, list, dict)):  # as _row_to_ns converts it
                    v = Row(v=v).asDict(recursive=True)["v"]
                out = fn(v)
            except Exception:
                out = on_error
            # a typed double UDF returning a Python int yields NULL
            return float(out) if rtype == "double" and isinstance(out, int) else out

        arg = (
            F.struct(*[F.col(_q(c)) for c in self.fields])
            if attr is None
            else F.col(_q(attr))
        )
        return F.udf(call, rtype or "string")(arg)

    def _probe(self, fn: Callable, default: Any = None) -> Any:
        """``fn`` on this table's first row, built on the driver as
        iteration builds it; ``default`` on an empty table or an
        exception. Row-callable columns take their type from it."""
        rows = self._ordered_df().limit(1).collect()
        try:
            return fn(self._make_row(rows[0])) if rows else default
        except Exception:
            return default

    @staticmethod
    def _with_internal(df: DataFrame) -> DataFrame:
        if df.isStreaming:
            # A Table over an unbounded stream supports the narrow
            # subset (select/where/compute-style projections — e.g.
            # ingest-time quality filtering); ordered-bag semantics
            # (slices, rank, head) are meaningless on a stream, and
            # monotonically_increasing_id is rejected by Structured
            # Streaming anyway, so no order columns are stamped. An
            # order-dependent op on a streaming Table fails with
            # Spark's missing-column/unsupported-operation analysis
            # error at plan time, never silently.
            return df
        if EPOCH not in df.columns:
            df = df.withColumn(EPOCH, F.lit(0).cast("long"))
        return ensure_row_ord(df)

    @classmethod
    def from_df(cls, df: DataFrame, name: str = "") -> "Table":
        return cls(name=name, df=df)

    @classmethod
    def parquet_import(
        cls, spark: SparkSession, path: str, name: str = ""
    ) -> "Table":
        return cls(name=name or path, df=read_parquet(spark, path), spark=spark)

    @classmethod
    def orc_import(
        cls, spark: SparkSession, path: str, name: str = ""
    ) -> "Table":
        """ORC source (built into Spark; same pushdown/pruning story as
        parquet — PushedFilters and ReadSchema reach the scan)."""
        return cls(name=name or path, df=spark.read.orc(path), spark=spark)

    @classmethod
    def xml_import(
        cls,
        spark: SparkSession,
        path: str,
        name: str = "",
        row_tag: str = "row",
        **options: Any,
    ) -> "Table":
        """XML source — native in Spark 4 (spark-xml merged upstream,
        SPARK-44810). ``row_tag`` names the repeating record element;
        extra ``options`` pass through to the reader (attributePrefix,
        valueTag, mode, ...). Schema inference and parsing distribute
        like the json source — one scan, no driver parsing."""
        reader = spark.read.format("xml").option("rowTag", row_tag)
        for k, v in options.items():
            reader = reader.option(k, v)
        return cls(name=name or path, df=reader.load(path), spark=spark)

    # ------------------------------------------------------------------ #
    # internals

    def _require_df(self) -> DataFrame:
        if self._df is None:
            raise ValueError("table is empty and has no schema yet")
        return self._df

    @property
    def fields(self) -> list[str]:
        if self._df is None:
            return list(self._indexes)
        return [c for c in self._df.columns if not _is_internal(c)]

    @property
    def df(self) -> DataFrame:
        """User-facing DataFrame view (internal order columns stripped)."""
        return self._require_df().select(*[_q(c) for c in self.fields])

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        return self._spark

    def _sort_cols(self, reverse: bool = False) -> list[Column]:
        """The table order as sort columns (``reverse``: last row first):
        the sort spec, then the order columns, which make it total."""
        spec = list(self._sort) + [(EPOCH, True), (ROW_ORD, True)]
        if self._df is not None and ROW_SUB in self._df.columns:
            spec.append((ROW_SUB, True))
        return [
            F.expr(e).asc() if asc != reverse else F.expr(e).desc()
            for e, asc in spec
        ]

    def _ordered_df(self) -> DataFrame:
        return self._require_df().orderBy(*self._sort_cols())

    def _dense(self) -> DataFrame:
        """The rows with ``__row_ord__`` = dense position 0..n-1 in table
        order and one ``__epoch__``, so the order survives clearing the
        sort (positions are global across insert batches)."""
        return (
            dense_index(self._require_df(), self._sort_cols())
            .withColumn(EPOCH, F.lit(0).cast("long"))
            .drop(ROW_SUB)
        )

    def _mutate(self, df: DataFrame) -> None:
        import datetime as _dt

        self._df = df
        self._version += 1
        self._len_cache = None
        self._prefetched = None
        self.modify_time = _dt.datetime.now().astimezone(_dt.timezone.utc)

    def _derive(self, df: DataFrame, name: str = "", keep_sort: bool = True) -> "Table":
        t = Table(name=name or self.table_name, spark=self._spark)
        t._df = df
        if keep_sort:
            t._sort = list(self._sort)
        t._next_epoch = self._next_epoch
        t._row_class = self._row_class
        return t

    # ------------------------------------------------------------------ #
    # list-like surface (littletable.py:1377-1443)

    def __len__(self) -> int:
        if self._df is None:
            return 0
        if self._prefetched is not None:
            return len(self._prefetched)
        if self._len_cache is None:
            self._len_cache = self._df.count()
        return self._len_cache

    def __bool__(self) -> bool:
        return not self.is_empty()

    def is_empty(self) -> bool:
        if self._df is None:
            return True
        if self._len_cache is not None:
            return self._len_cache == 0
        return self._df.limit(1).count() == 0

    def __iter__(self) -> Iterator[SimpleNamespace]:
        if self._df is None:
            return iter(())
        if self._prefetched is not None:
            return (self._make_row(r) for r in self._prefetched)
        return (
            self._make_row(r) for r in self._ordered_df().toLocalIterator()
        )

    def __reversed__(self) -> Iterator[SimpleNamespace]:
        df = self._require_df().orderBy(*self._sort_cols(reverse=True))
        return (self._make_row(r) for r in df.toLocalIterator())

    def _full_record_pred(self, obj: Any) -> dict[str, Any] | None:
        """Whole-record equality spec: missing attributes compare as None
        (reference getattr(obj, attr, None) semantics); extra attributes
        mean the object cannot equal any row."""
        try:
            d = to_row_dict(obj)
        except TypeError:
            return None
        if set(d) - set(self.fields):
            return None
        return {f: d.get(f) for f in self.fields}

    def __contains__(self, obj: Any) -> bool:
        preds = self._full_record_pred(obj)
        if preds is None:
            return False
        return not self.where(**preds).is_empty()

    def count(self, obj: Any) -> int:
        preds = self._full_record_pred(obj)
        if preds is None:
            return 0
        return len(self.where(**preds))

    def index(self, obj: Any) -> int:
        d = self._full_record_pred(obj)
        if d is None:
            raise ValueError(f"{obj!r} not in table")
        pred = self._compile_kwargs(d)
        p = self._dense().filter(pred).select(F.min(ROW_ORD)).collect()[0][0]
        if p is None:
            raise ValueError(f"{obj!r} not in table")
        return int(p)

    def __getitem__(self, key: int | slice) -> Any:
        n = None
        if isinstance(key, slice) and self._df is None:
            return self._empty_like()  # schema-less empty: empty slice
        if isinstance(key, slice):
            start, stop, step = key.start, key.stop, key.step
            if step not in (None, 1):
                n = len(self)
                start, stop, step = key.indices(n)
                dense = self._dense()
                # arithmetic membership + explicit new ordinal (no driver-
                # side position list): position start + i*step maps to
                # ordinal i, so step<0 slices come back reversed like the
                # reference's list slice
                new_ord = (F.col(ROW_ORD) - F.lit(start)) / F.lit(step)
                out = dense.filter(_slice_member(start, stop, step)).withColumn(
                    ROW_ORD, new_ord.cast("long")
                )
                return self._derive(out, keep_sort=False)._clear_sort()
            if (start is not None and start < 0) or (stop is not None and stop < 0):
                n = len(self)
                start, stop, _ = key.indices(n)
            start = start or 0
            pred = F.col(ROW_ORD) >= F.lit(start)
            if stop is not None:
                pred = pred & (F.col(ROW_ORD) < F.lit(stop))
            return self._derive(self._dense().filter(pred), keep_sort=False)._clear_sort()
        # int
        idx = key
        if idx < 0:
            idx += len(self)
            if idx < 0:
                raise IndexError(key)
        rows = self._ordered_df().offset(idx).limit(1).collect()
        if not rows:
            raise IndexError(key)
        return self._make_row(rows[0])

    def _clear_sort(self) -> "Table":
        self._sort = []
        return self

    @staticmethod
    def _with_internal_reset(df: DataFrame) -> DataFrame:
        df = df.drop(ROW_ORD, ROW_SUB, EPOCH)
        return Table._with_internal(df)

    def __delitem__(self, key: int | slice) -> None:
        """``del t[i]`` / ``del t[i:j]`` / ``del t[i:j:k]`` — list-slice
        delete semantics incl. extended slices (reference
        littletable.py:1402-1412, exercised at littletable.py:4811 as
        ``del amfm[0:-1:2]``). Implemented as ONE filter keeping the
        complement of the slice's arithmetic membership
        (``_slice_member``, shared with stepped ``__getitem__``) — no driver-side
        position list, no per-row pop loop."""
        if isinstance(key, slice):
            if self._df is None:
                return  # schema-less empty table: nothing to delete
            n = len(self)
            start, stop, step = key.indices(n)
            self._mutate(self._dense().filter(~_slice_member(start, stop, step)))
            return
        if isinstance(key, int):
            self.pop(key)
            return
        raise TypeError("Table index must be int or slice")

    def pop(self, idx: int = -1) -> SimpleNamespace:
        """Remove and return the row at ``idx``: one job reads it, and a
        lazy filter drops that position. Each call adds a global sort to
        the lineage (see ``remove``)."""
        row = self[idx]
        if idx < 0:
            idx += len(self)
        self._mutate(self._dense().filter(F.col(ROW_ORD) != F.lit(idx)))
        return row

    def __repr__(self) -> str:
        name = self.table_name or "<unnamed>"
        return f"Table({name!r}, fields={self.fields})"

    # ------------------------------------------------------------------ #
    # naming / copying

    def __call__(self, name: str) -> "Table":
        self.table_name = name
        return self

    def clone(self, name: str = "") -> "Table":
        t = self._derive(self._require_df(), name=name or self.table_name)
        t._indexes = dict(self._indexes)
        return t

    def copy_template(self, name: str = "") -> "Table":
        t = Table(name=name or self.table_name, spark=self._spark)
        if self._df is not None:
            t._df = self._df.limit(0)
        t._indexes = dict(self._indexes)
        t._row_class = self._row_class
        return t

    # ------------------------------------------------------------------ #
    # insert / remove (littletable.py:1944-2076)

    def insert(self, obj: Any) -> "Table":
        return self.insert_many([obj])

    def insert_many(self, objs: Iterable[Any]) -> "Table":
        dicts = [to_row_dict(o) for o in objs]
        if not dicts:
            return self
        all_keys: list[str] = []
        for d in dicts:
            for k in d:
                if k not in all_keys:
                    all_keys.append(k)
        # tuples + explicit names: createDataFrame on dicts sorts keys
        # alphabetically, which would break first-seen field order
        # a column that is None throughout the batch has no type to infer
        # (createDataFrame refuses it): it takes the table's type, or
        # string for a new column
        typed = [k for k in all_keys if any(d.get(k) is not None for d in dicts)]
        base = (
            self.spark.createDataFrame([tuple(d.get(k) for k in typed) for d in dicts], schema=typed)
            if typed
            else self.spark.range(len(dicts))
        )
        known = {f.name: f.dataType for f in self._df.schema.fields} if self._df is not None else {}
        new_df = base.select(*[
            F.col(_q(k)) if k in typed else F.lit(None).cast(known.get(k, SQLT.StringType())).alias(k)
            for k in all_keys
        ])
        new_df = ensure_row_ord(new_df.withColumn(EPOCH, F.lit(self._next_epoch)))
        self._validate_unique(new_df)
        if self._df is None:
            combined = new_df
        else:
            old, new = _reconcile_cell_types(self._df, new_df)
            combined = old.unionByName(new, allowMissingColumns=True)
        self._next_epoch += 1
        self._mutate(combined)
        return self

    def _validate_unique(self, new_df: DataFrame) -> None:
        """Atomic unique-key validation before commit (littletable.py:1981-2009)."""
        for info in self._indexes.values():
            if not info.unique:
                continue
            if info.attr not in new_df.columns:
                if not info.accept_none:
                    raise UniqueKeyViolation(
                        f"unique index {info.attr!r}: missing key in insert batch"
                    )
                continue
            key = F.col(info.attr)
            agg = new_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(key).alias("nn"),
                F.count_distinct(key).alias("nd"),
            ).collect()[0]
            if agg["nn"] < agg["n"] and not info.accept_none:
                raise UniqueKeyViolation(f"unique index {info.attr!r}: None key")
            if agg["nd"] < agg["nn"]:
                raise UniqueKeyViolation(
                    f"unique index {info.attr!r}: duplicate key within batch"
                )
            if self._df is not None and info.attr in self._df.columns:
                clash = (
                    new_df.select(info.attr)
                    .dropna()
                    .join(self._df.select(info.attr).dropna(), on=info.attr, how="left_semi")
                    .limit(1)
                    .count()
                )
                if clash:
                    raise UniqueKeyViolation(
                        f"unique index {info.attr!r}: duplicate key"
                    )

    def remove(self, obj: Any) -> "Table":
        """Remove one matching occurrence (first in table order).

        One lazy plan, no job: matches sort first, in table order, so the
        first match is sequence number 0. Each call adds a global sort to
        the lineage, so a loop of positional edits (``remove``, ``pop``,
        ``del t[i]``) slows with every step: do many as one
        ``del t[i:j:k]``, ``remove_many`` or ``delete``."""
        d = self._full_record_pred(obj)
        if d is None or self._df is None:
            return self
        hit = F.coalesce(self._compile_kwargs(d), F.lit(False))
        first = dense_index(
            self._require_df(), [hit.desc(), *self._sort_cols()], out_col="__first__"
        )
        self._mutate(first.filter(~(hit & (F.col("__first__") == 0))).drop("__first__"))
        return self

    def remove_many(self, objs: Iterable[Any]) -> "Table":
        """Remove all rows matching any of the given records (anti-join)."""
        dicts = [to_row_dict(o) for o in objs]
        if not dicts:
            return self
        keys = sorted({k for d in dicts for k in d})
        probe = self.spark.createDataFrame([{k: d.get(k) for k in keys} for d in dicts])
        df = self._require_df()
        cond = [df[k].eqNullSafe(probe[k]) for k in keys if k in df.columns]
        self._mutate(df.join(probe, on=cond, how="left_anti"))
        return self

    def clear(self) -> "Table":
        if self._df is not None:
            self._mutate(self._df.limit(0))
        return self

    # ------------------------------------------------------------------ #
    # where / delete / splitby / unique (littletable.py:2100-2190, 3630-3795)

    def _compile_criterion(self, attr: str, value: Any) -> Column:
        col = F.col(_q(attr))
        if isinstance(value, Comparator):
            return value.to_column(col)
        if isinstance(value, Column):
            return value
        if callable(value):
            return self._row_udf(lambda v: bool(value(v)), "boolean", False, attr)
        if value is None:
            return col.isNull()
        return col == F.lit(value)

    def _compile_kwargs(self, kwargs: dict[str, Any]) -> Column:
        pred: Column | None = None
        for attr, value in kwargs.items():
            if attr not in self._require_df().columns:
                # missing attribute reads as None (littletable.py:2148)
                c = (
                    F.lit(True)
                    if value is None
                    else F.lit(False)
                    if not isinstance(value, (Comparator,)) and not callable(value)
                    else self._compile_criterion_missing(value)
                )
            else:
                c = self._compile_criterion(attr, value)
            pred = c if pred is None else (pred & c)
        return pred if pred is not None else F.lit(True)

    @staticmethod
    def _compile_criterion_missing(value: Any) -> Column:
        lit_null = F.lit(None).cast("string")
        if isinstance(value, Comparator):
            out = value.to_column(lit_null)
            return F.coalesce(out, F.lit(False))
        return F.lit(False)

    def _empty_like(self) -> "Table":
        return Table(name=self.table_name, spark=self._spark)

    def where(self, wherefn: Any = None, **kwargs: Any) -> "Table":
        if self._df is None:  # schemaless empty table: queries are no-ops
            return self._empty_like()
        df = self._require_df()
        pred = self._compile_kwargs(kwargs) if kwargs else None
        if wherefn is not None:
            if isinstance(wherefn, Column):
                fnpred = wherefn
            elif isinstance(wherefn, str):
                fnpred = F.expr(wherefn)
            else:
                fnpred = self._compile_pred_any(wherefn)
            pred = fnpred if pred is None else (pred & fnpred)
        out = df.filter(pred) if pred is not None else df
        return self._derive(out)

    def _truthy_col(self, field: str) -> Column:
        """Python-truthiness test for one column, by Spark dtype."""
        if field not in self.fields:
            return F.lit(False)
        dtype = dict(self._require_df().dtypes)[field]
        c = F.col(field)
        base = c.isNotNull()
        if dtype == "string":
            return base & (c != F.lit(""))
        if dtype == "boolean":
            return base & c
        if dtype.startswith(("array", "map")):
            return base & (F.size(c) > 0)
        if dtype in ("tinyint", "smallint", "int", "bigint", "float", "double") or dtype.startswith("decimal"):
            return base & (c != F.lit(0))
        return base

    def delete(self, **kwargs: Any) -> int:
        if not kwargs or self._df is None:
            return 0
        n_before = len(self)
        pred = self._compile_kwargs(kwargs)
        self._mutate(self._require_df().filter(~F.coalesce(pred, F.lit(False))))
        return n_before - len(self)

    def _compile_pred_any(self, where: Any) -> Column:
        """Predicate from any ``Table.where``-style spec: criteria dict,
        Column, SQL string, or row callable; None matches every row."""
        if where is None:
            return F.lit(True)
        if isinstance(where, dict):
            return F.coalesce(self._compile_kwargs(where), F.lit(False))
        if isinstance(where, Column):
            return F.coalesce(where, F.lit(False))
        if isinstance(where, str):
            return F.coalesce(F.expr(where), F.lit(False))
        return self._row_udf(lambda r: bool(where(r)), "boolean", False)

    def update(self, where: Any = None, **sets: Any) -> int:
        """Conditional in-place column update; returns the matched-row
        count. The Spark-idiomatic replacement for the reference idiom
        of mutating returned row objects directly (``for row in
        t.where(status='F'): row.flag = 1`` — rows here are immutable).

        ``where`` takes a criteria dict (the ``Table.where`` kwargs
        forms, incl. comparators), a Column, a SQL string, or a row
        callable; omit it to update every row. Each ``sets`` value is a
        literal (strings stay literals — pass ``F.expr(...)`` for
        expressions), a Column over the current row, or a row callable
        (typed via a first-matching-row probe, like ``compute_field``).
        New column names are allowed (non-matching rows get NULL).

        Scale shape: one narrow conditional projection — row order,
        row count, and untouched columns are unchanged; no shuffle.
        Setting a unique-indexed column revalidates the WHOLE table
        before committing (atomic: the table is unchanged on
        violation), which is one aggregate scan per affected index."""
        if self._df is None or not sets:
            return 0
        df = self._require_df()
        pred = self._compile_pred_any(where)
        matched = int(df.filter(pred).count())
        # materialize the match ONCE against the pre-update row: the
        # predicate Column would otherwise re-resolve by name against
        # new_df after each withColumn, so a where= referencing a
        # column that is also in sets would stop matching for every
        # LATER set (update({"status": "F"}, status="D", flag=1) would
        # set status but leave flag untouched). Sets still apply in
        # order, so a Column set value may see earlier sets — matching
        # the reference's sequential row-mutation idiom.
        match_col = "__update_match__"
        new_df = df.withColumn(match_col, pred)
        match = F.col(match_col)
        for attr, value in sets.items():
            if isinstance(value, Column):
                col = value
            elif callable(value):
                probe = self._derive(df.filter(pred))._probe(value)
                col = self._row_udf(value, _pytype_to_spark(probe), None)
            else:
                col = F.lit(value)
            old = F.col(attr) if attr in new_df.columns else F.lit(None)
            new_df = new_df.withColumn(attr, F.when(match, col).otherwise(old))
        new_df = new_df.drop(match_col)
        self._validate_unique_whole(
            new_df, touched=set(sets), verb="update produces"
        )
        self._mutate(new_df)
        return matched

    def _validate_unique_whole(
        self,
        new_df: DataFrame,
        touched: set[str] | None = None,
        verb: str = "produces",
    ) -> int:
        """Whole-table unique-index recheck before an in-place commit
        (update/upsert). ``touched=None`` checks every unique index;
        otherwise only indexes whose key column is in ``touched``
        (untouched columns cannot have changed). All checked indexes
        fold into ONE aggregate scan; raises UniqueKeyViolation leaving
        the table unchanged. Returns the number of indexes checked."""
        uniq = [
            info
            for info in self._indexes.values()
            if info.unique and (touched is None or info.attr in touched)
        ]
        if not uniq:
            return 0
        aggs: list[Column] = [F.count(F.lit(1)).alias("__n__")]
        for i, info in enumerate(uniq):
            key = F.col(info.attr)
            aggs.append(F.count(key).alias(f"__nn{i}__"))
            aggs.append(F.count_distinct(key).alias(f"__nd{i}__"))
        row = new_df.agg(*aggs).collect()[0]
        for i, info in enumerate(uniq):
            if row[f"__nn{i}__"] < row["__n__"] and not info.accept_none:
                raise UniqueKeyViolation(
                    f"unique index {info.attr!r}: {verb} None key"
                )
            if row[f"__nd{i}__"] < row[f"__nn{i}__"]:
                raise UniqueKeyViolation(
                    f"unique index {info.attr!r}: {verb} duplicate key"
                )
        return len(uniq)

    def upsert(self, objs: Any, key: str) -> "Table":
        """Keyed merge (MERGE INTO semantics, in place): rows of
        ``objs`` (a Table or an iterable of records) whose ``key``
        matches an existing row REPLACE that row's incoming columns —
        the row keeps its position; unmatched rows append like
        ``insert_many`` (schema widening included). The incoming batch
        must be key-unique (ambiguous merges raise, table unchanged).
        Net-new over the reference (its users re-insert after mutating
        objects); this is the corpus-refresh primitive — nightly
        re-crawls replace stale documents and add new ones in one pass.

        Scale shape: one LEFT join of the corpus against the (usually
        broadcast) incoming batch for the in-place replacement, one
        anti-join + union for the appends; row order of existing rows
        is never touched, so no shuffle of the corpus."""
        inc_t = (
            objs
            if isinstance(objs, Table)
            else Table("upsert_batch", spark=self.spark).insert_many(objs)
        )
        inc = inc_t.df
        if key not in inc.columns:
            raise ValueError(f"upsert batch has no key column {key!r}")
        agg = inc.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(F.col(key)).alias("nd")
        ).collect()[0]
        if agg["nd"] < agg["n"]:
            raise UniqueKeyViolation(
                f"upsert batch has duplicate {key!r} keys — merge is ambiguous"
            )
        if self._df is None:
            return self.insert_many(
                inc_t
            )  # empty table: upsert degenerates to insert
        df = self._require_df()
        # reconcile heterogeneous cell types up front, like insert_many
        df, inc = _reconcile_cell_types(df, inc)
        renamed = inc.select(
            [F.col(c).alias(f"__new_{c}__") for c in inc.columns]
        )
        joined = df.join(
            renamed, df[key] == renamed[f"__new_{key}__"], how="left"
        )
        hit = F.col(f"__new_{key}__").isNotNull()
        updated = joined
        for c in inc.columns:
            if c == key:
                continue
            old = F.col(c) if c in df.columns else F.lit(None)
            updated = updated.withColumn(
                c, F.when(hit, F.col(f"__new_{c}__")).otherwise(old)
            )
        updated = updated.drop(*[f"__new_{c}__" for c in inc.columns])
        appended = inc.join(df.select(key).dropna(), on=key, how="left_anti")
        appended = ensure_row_ord(
            appended.withColumn(EPOCH, F.lit(self._next_epoch))
        )
        combined = updated.unionByName(appended, allowMissingColumns=True)
        # upsert was the one mutation path bypassing unique indexes:
        # replaced columns can collide with untouched rows, and appends
        # get NULL for columns absent from the batch (allowMissingColumns)
        # — recheck EVERY unique index on the merged table, atomically,
        # like insert_many/update do (one folded aggregate scan).
        self._validate_unique_whole(combined, verb="upsert produces")
        self._next_epoch += 1
        self._mutate(combined)
        return self

    def splitby(
        self,
        pred: Any = None,
        errors: Any = None,
        **kwargs: Any,
    ) -> tuple["Table", ...]:
        """One pass -> (non-matching, matching[, errors]) (littletable.py:3630-3771)."""
        if self._df is None:
            # schema-less empty: all splits empty, like the reference
            empties = (self._empty_like(), self._empty_like())
            return empties + ((self._empty_like(),) if errors is not None and not isinstance(pred, (str, Column)) and not kwargs else ())
        if pred is None and kwargs:
            col_pred = self._compile_kwargs(kwargs)
            use_errors = False
        elif isinstance(pred, str):
            # reference semantics are bool(getattr(rec, field)): falsy
            # non-null values (0, '', False, empty array) split False
            col_pred = self._truthy_col(pred)
            use_errors = False
        elif isinstance(pred, Column):
            col_pred = pred
            use_errors = False
        else:
            scol = self._row_udf(lambda r: 1 if pred(r) else 0, "int", 2)
            use_errors = errors is not None
            col_pred = None  # handled below
        df = self._require_df()
        if col_pred is not None:
            p = F.coalesce(col_pred, F.lit(False))
            return (self._derive(df.filter(~p)), self._derive(df.filter(p)))
        df_s = df.withColumn("__split__", scol)
        false_t = self._derive(df_s.filter(F.col("__split__") == 0).drop("__split__"))
        true_t = self._derive(df_s.filter(F.col("__split__") == 1).drop("__split__"))
        if use_errors:
            err_t = self._derive(df_s.filter(F.col("__split__") == 2).drop("__split__"))
            return (false_t, true_t, err_t)
        # errors counted as False, matching the reference default (errors='discard' drops)
        return (false_t, true_t)

    def unique(self, key: Any = None) -> "Table":
        """Dedup keeping first occurrence in table order (littletable.py:3773-3795)."""
        from pyspark.sql import Window

        if self._df is None:
            return self._empty_like()
        df = self._require_df()
        if key is None:
            part_cols = [F.col(c) for c in self.fields]
        elif isinstance(key, str):
            part_cols = [F.col(key)]
        elif callable(key):
            df = df.withColumn(
                "__ukey__", self._row_udf(lambda r: str(key(r)), "string", None)
            )
            part_cols = [F.col("__ukey__")]
        else:
            part_cols = [F.col(c) for c in key]
        w = Window.partitionBy(*part_cols).orderBy(*self._sort_cols())
        out = (
            df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__", "__ukey__")
        )
        return self._derive(out)

    # ------------------------------------------------------------------ #
    # select / compute_field (littletable.py:2259-2315, 3494-3542)

    def _parse_fields_string(self, fields: Any) -> list[str]:
        """`"a b -c *"` syntax (littletable.py:3917-3950)."""
        if fields is None:
            return list(self.fields)
        if isinstance(fields, str):
            tokens = fields.replace(",", " ").split()
        else:
            tokens = list(fields)
        out: list[str] = []
        removed: set[str] = set()
        for tok in tokens:
            if tok == "*":
                for c in self.fields:
                    if c not in out:
                        out.append(c)
            elif tok.startswith("-"):
                removed.add(tok[1:])
            else:
                if tok not in out:
                    out.append(tok)
        return [c for c in out if c not in removed]

    def _computed_column(self, expr: Any) -> Column:
        if isinstance(expr, Column):
            return expr
        if isinstance(expr, str):
            if "{" in expr:
                fields = self.fields
                return self._row_udf(
                    lambda r: expr.format(
                        **{f: _normalize_value(getattr(r, f)) for f in fields}
                    ),
                    "string",
                    None,
                )
            return F.expr(expr)
        if callable(expr):
            return self._row_udf(expr, None, None)
        return F.lit(expr)

    def select(self, fields: Any = None, **exprs: Any) -> "Table":
        # names go through as quoted identifiers in the one select call:
        # a field named "x.y" is that column, not field y of a struct x
        base = self._parse_fields_string(fields)
        cols: list[Any] = [_q(c) for c in base]
        for name, expr in exprs.items():
            cols.append(self._computed_column(expr).alias(name))
        df = self._require_df()
        cols += [c for c in df.columns if _is_internal(c)]
        return self._derive(df.select(*cols))

    def compute_field(
        self, attr: str, fn: Any, default: Any = None
    ) -> "Table":
        """In-place derived column; ``default`` on exception
        (littletable.py:3494-3542). Callable results keep their Python
        type: the callable is probed on the first row (driver-side) to
        infer the column type, instead of degrading everything to
        string via an untyped UDF."""
        if self._df is None:
            return self  # schema-less empty: no rows to compute over
        if isinstance(fn, (str, Column)):
            col = self._computed_column(fn)
            if default is not None:
                col = F.coalesce(col, F.lit(default))
        else:
            rtype = _pytype_to_spark(self._probe(fn, default))
            col = self._row_udf(fn, rtype, default)
        self._mutate(self._require_df().withColumn(attr, col))
        return self

    add_field = compute_field

    # ------------------------------------------------------------------ #
    # ordering (littletable.py:2184-2257, 3816-3830)

    def orderby(self, key: Any, reverse: bool = False) -> "Table":
        """In-place sort; `"a, b desc"` string syntax (littletable.py:2211-2218)."""
        spec: list[tuple[str, bool]] = []
        if isinstance(key, str):
            for part in key.split(","):
                toks = part.split()
                if not toks:
                    continue
                asc = not (len(toks) > 1 and toks[1].lower() == "desc")
                spec.append((toks[0], asc))
        elif callable(key) and not isinstance(key, Column):
            # probe one row to learn the key shape: scalar vs tuple, and
            # numeric vs string per element — a string-typed UDF column
            # would sort numeric keys lexicographically
            probe = self._probe(key)
            parts = probe if isinstance(probe, tuple) else (probe,)
            df = self._require_df()
            spec = []
            for i, p in enumerate(parts):
                num = isinstance(p, (int, float)) and not isinstance(p, bool)

                def part(r, _i=i, _num=num):
                    k = key(r)
                    v = k[_i] if isinstance(k, tuple) else k
                    return float(v) if _num else (None if v is None else str(v))

                col_name = f"{SORTKEY}{i or ''}"
                df = df.withColumn(
                    col_name, self._row_udf(part, "double" if num else "string", None)
                )
                spec.append((col_name, True))
            self._mutate(df)
        elif isinstance(key, (list, tuple)):
            for k in key:
                spec.append((k, True))
        else:
            spec = [(str(key), True)]
        if reverse:
            spec = [(e, not a) for e, a in spec]
        self._sort = spec
        self._version += 1
        return self

    sort = orderby

    def shuffle(self, seed: int | None = None) -> "Table":
        if self._df is None:
            return self
        if seed is None:
            seed = random.randrange(2**31)
        self._mutate(
            self._with_internal_reset(
                self._require_df().orderBy(F.rand(seed))
            )
        )
        self._sort = []
        return self

    def rank(self, rank_col: str = "rank", start: int = 1) -> "Table":
        if self._df is None:
            return self
        dense = self._dense()
        self._mutate(dense.withColumn(rank_col, (F.col(ROW_ORD) + F.lit(start)).cast("long")))
        self._sort = []
        return self

    def head(self, n: int = 10) -> "Table":
        if self._df is None:
            return self._empty_like()
        return self._derive(self._ordered_df().limit(n))

    def tail(self, n: int = 10) -> "Table":
        if self._df is None:
            return self._empty_like()
        rev = self._require_df().orderBy(*self._sort_cols(reverse=True))
        return self._derive(rev.limit(n))

    def batched(self, n: int) -> Iterator["Table"]:
        """Generator of n-row subtables (littletable.py:3616-3628)."""
        if self._df is None:
            return
        dense = self._dense().withColumn("__batch__", (F.col(ROW_ORD) / F.lit(n)).cast("long"))
        # held while the generator lives, so B batches sort once; a batch
        # read after that recomputes the same positions from lineage
        with scoped_persist("batched") as scope:
            total = scope.persist(dense).count()
            for b in range((total + n - 1) // n):
                yield self._derive(
                    dense.filter(F.col("__batch__") == b).drop("__batch__"),
                    keep_sort=False,
                )._clear_sort()

    # ------------------------------------------------------------------ #
    # union (littletable.py:1445-1462)

    def union(self, other: "Table") -> "Table":
        df1 = self._require_df()
        df2 = other._require_df().withColumn(
            EPOCH, F.col(EPOCH) + F.lit(self._next_epoch)
        )
        t = self._derive(df1.unionByName(df2, allowMissingColumns=True), keep_sort=False)
        t._clear_sort()
        t._next_epoch = self._next_epoch + other._next_epoch + 1
        return t

    def __add__(self, other: Any) -> "Table":
        if isinstance(other, Table):
            return self.union(other)
        return self.clone().insert_many(other)

    def __iadd__(self, other: Any) -> "Table":
        if isinstance(other, Table):
            merged = self.union(other)
            self._mutate(merged._df)
            self._next_epoch = merged._next_epoch
            return self
        return self.insert_many(other)

    # ------------------------------------------------------------------ #
    # indexes (littletable.py:1515-1595)

    def create_index(
        self,
        attr: str,
        unique: bool = False,
        accept_none: bool = False,
        force: bool = False,
        cache: bool = False,
    ) -> "Table":
        if attr in self._indexes and not force:
            raise ValueError(f"index on {attr!r} already exists")
        info = _IndexInfo(attr, unique, accept_none, cached=cache)
        if unique and self._df is not None and attr in self._df.columns:
            key = F.col(attr)
            agg = self._df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(key).alias("nn"),
                F.count_distinct(key).alias("nd"),
            ).collect()[0]
            if agg["nd"] < agg["nn"] or (agg["nn"] < agg["n"] and not accept_none):
                raise UniqueKeyViolation(
                    f"cannot create unique index on {attr!r}: duplicate or None keys"
                )
        self._indexes[attr] = info
        return self

    def drop_index(self, attr: str) -> "Table":
        self._indexes.pop(attr, None)
        return self

    delete_index = drop_index

    def get_index(self, attr: str) -> _IndexAccessor:
        if attr not in self._indexes:
            raise NoSuchIndexError(attr)
        return _IndexAccessor(self, attr)

    @property
    def by(self) -> _ByAccessor:
        return _ByAccessor(self)

    @property
    def all(self) -> _AllAccessor:
        return _AllAccessor(self)

    # ------------------------------------------------------------------ #
    # joins — implemented in operators/joins.py

    def join(
        self,
        other: "Table",
        attrlist: Any = None,
        auto_create_indexes: bool = True,
        **kwargs: str,
    ) -> "Table":
        from .operators.joins import join_tables

        return join_tables(self, other, "inner", attrlist, kwargs)

    def outer_join(
        self,
        join_type: str,
        other: "Table",
        attrlist: Any = None,
        **kwargs: str,
    ) -> "Table":
        from .operators.joins import join_tables

        return join_tables(self, other, join_type, attrlist, kwargs)

    def join_on(self, attr: str, join: str = "inner"):
        from .operators.joins import JoinTerm

        return JoinTerm(self, attr, join)

    def cross_join(self, other: "Table") -> "Table":
        """Cartesian product — net-new (reference has none, SURVEY §2.3)."""
        ldf = self.df
        rdf = other.df
        dup = [c for c in rdf.columns if c in ldf.columns]
        rdf = rdf.select(
            *[F.col(c).alias(f"{other.table_name or 'right'}_{c}" if c in dup else c) for c in rdf.columns]
        )
        out = ldf.crossJoin(rdf)
        return Table.from_df(out, name=f"{self.table_name}:x:{other.table_name}")

    # semi/anti — net-new over the reference (its idiom is is_in over .all)
    def semi_join(self, other: "Table", on: Any) -> "Table":
        left_key, right_key = _parse_on(on)
        df = self._require_df()
        odf = other._require_df().select(F.col(right_key).alias(left_key)).distinct()
        return self._derive(df.join(odf, on=left_key, how="left_semi"))

    def anti_join(self, other: "Table", on: Any) -> "Table":
        left_key, right_key = _parse_on(on)
        df = self._require_df()
        odf = other._require_df().select(F.col(right_key).alias(left_key)).distinct()
        return self._derive(df.join(odf, on=left_key, how="left_anti"))

    # ------------------------------------------------------------------ #
    # grouping / pivot / stats — operators/

    def groupby_with_summaries(self, keyexpr: Any, **outexprs: Any) -> "Table":
        from .operators.grouping import groupby_with_summaries

        return groupby_with_summaries(self, keyexpr, outexprs)

    def groupby(
        self,
        keyexpr: Any,
        sort: bool = False,
        materialize: bool = True,
        materialize_limit: int | None = 1_000_000,
    ):
        from .operators.grouping import groupby_iter

        return groupby_iter(self, keyexpr, sort, materialize, materialize_limit)

    def pivot(self, attrlist: Any):
        from .operators.grouping import PivotTable

        attrs = attrlist.split() if isinstance(attrlist, str) else list(attrlist)
        return PivotTable(self, attrs)

    def stats(
        self, field_names: Any = None, by_field: bool = True, approx: bool = False
    ) -> "Table":
        from .operators.stats import stats_table

        return stats_table(self, field_names, by_field, approx)

    def skew_report(self, cols: Any, top_k: int = 10) -> "Table":
        """Heavy-hitter / skew diagnostics for join and groupBy key
        candidates — see operators/stats.py:skew_report."""
        from .operators.stats import skew_report

        return skew_report(self, cols, top_k)

    # cube / rollup — free capability win over the reference (SURVEY §2.4)
    def cube(self, attrs: Iterable[str], **aggs: Column) -> "Table":
        df = self.df
        out = df.cube(*attrs).agg(*[c.alias(n) for n, c in aggs.items()])
        return Table.from_df(out, name=f"{self.table_name}_cube")

    def rollup(self, attrs: Iterable[str], **aggs: Column) -> "Table":
        df = self.df
        out = df.rollup(*attrs).agg(*[c.alias(n) for n, c in aggs.items()])
        return Table.from_df(out, name=f"{self.table_name}_rollup")

    def explode_field(
        self,
        attr: str,
        into: str = "value",
        pos_into: str | None = None,
        outer: bool = False,
    ) -> "Table":
        """One output row per element of a list-typed field — the
        UDTF/flatMap shape (net-new: the reference's rows are scalar-only,
        SURVEY §2.8 notes no UDTF analog). ``pos_into`` adds the 0-based
        element ordinal; ``outer=True`` keeps rows whose list is
        empty/NULL (element reads as NULL). Native posexplode — a narrow
        codegen'd generator, no shuffle."""
        fn = F.posexplode_outer if outer else F.posexplode
        others = [c for c in self.fields if c != attr]
        pos_col = pos_into or "__pos__"
        out = self.df.select(*others, fn(F.col(attr)).alias(pos_col, into))
        if pos_into is None:
            out = out.drop(pos_col)
        return Table.from_df(out, name=f"{self.table_name}_exploded")

    def grouping_sets(
        self, sets: Iterable[Iterable[str]], **aggs: Column
    ) -> "Table":
        """GROUPING SETS aggregation (net-new over the reference, like
        cube/rollup): each set is one grouping; columns absent from a set
        read as NULL in its rows. Native ``df.groupingSets`` — a single
        Expand + one shuffled aggregate, not one shuffle per set."""
        sets = [list(s) for s in sets]
        all_cols = list(dict.fromkeys(c for s in sets for c in s))
        out = self.df.groupingSets(
            [[F.col(c) for c in s] for s in sets], *[F.col(c) for c in all_cols]
        ).agg(*[c.alias(n) for n, c in aggs.items()])
        return Table.from_df(out, name=f"{self.table_name}_grouping_sets")

    # ------------------------------------------------------------------ #
    # full-text search — operators/search.py

    def create_search_index(
        self,
        attr: str,
        using: Any = None,
        stopwords: Iterable[str] | None = None,
        force: bool = False,
        normalize: bool = True,
    ) -> "Table":
        from .operators.search import SearchIndex

        if using is not None:
            src_attrs = using.split() if isinstance(using, str) else list(using)
            concat = F.concat_ws(" ", *[F.coalesce(F.col(a).cast("string"), F.lit("")) for a in src_attrs])
            self._mutate(self._require_df().withColumn(attr, concat))
        if attr in self._search_indexes and not force:
            idx = self._search_indexes[attr]
            if idx.version == self._version:
                return self
        self._search_indexes[attr] = SearchIndex.build(
            self, attr, stopwords, normalize=normalize
        )
        return self

    def delete_search_index(self, attr: str) -> "Table":
        idx = self._search_indexes.pop(attr, None)
        if idx is not None:
            idx.unpersist()
        return self

    def rebuild_search_index(self, attr: str) -> "Table":
        old = self._search_indexes.get(attr)
        return self.create_search_index(
            attr, force=True, normalize=(old.normalize if old else True)
        )

    @property
    def search(self):
        from .operators.search import SearchAccessor

        return SearchAccessor(self)

    def _get_search_index(self, attr: str):
        if attr not in self._search_indexes:
            raise NoSuchIndexError(f"no search index on {attr!r}")
        idx = self._search_indexes[attr]
        if idx.version != self._version:
            raise SearchIndexInconsistentError(
                f"search index on {attr!r} is stale; call rebuild_search_index"
            )
        return idx

    # ------------------------------------------------------------------ #
    # presentation / export — exporters.py

    def as_dataframe(self, fields: Any = None):
        t = self.select(fields) if fields is not None else self
        return t._ordered_df().select(*t.fields).toPandas()

    def csv_export(self, dest: Any = None, fieldnames: Any = None, **kwargs: Any):
        from .exporters import csv_export

        return csv_export(self, dest, fieldnames, **kwargs)

    def tsv_export(self, dest: Any = None, fieldnames: Any = None, **kwargs: Any):
        from .exporters import csv_export

        kwargs.setdefault("sep", "\t")
        return csv_export(self, dest, fieldnames, **kwargs)

    def json_export(self, dest: Any = None, fieldnames: Any = None, streaming: bool = False, **kwargs: Any):
        from .exporters import json_export

        return json_export(self, dest, fieldnames, streaming=streaming, **kwargs)

    def excel_export(self, dest: Any, fieldnames: Any = None, **kwargs: Any) -> None:
        from .sources.excel_io import excel_export

        return excel_export(self, dest, fieldnames, **kwargs)

    def as_markdown(
        self, fields: Any = None, formats: Any = None, groupby: Any = None
    ) -> str:
        from .exporters import as_markdown

        return as_markdown(self, fields, formats, groupby)

    def as_html(self, fields: Any = None, **kwargs: Any) -> str:
        from .exporters import as_html

        return as_html(self, fields, **kwargs)

    def present(self, fields: Any = None, **kwargs: Any) -> None:
        from .exporters import present

        return present(self, fields, **kwargs)

    def format(self, template: str) -> Iterator[str]:
        for ns in self:
            yield template.format(**vars(ns))

    def formatted_table(self, *fields: str, **field_formats: str) -> "Table":
        from .exporters import formatted_table

        return formatted_table(self, fields, field_formats)

    def parquet_export(self, path: str, mode: str = "overwrite", partition_by: Any = None) -> None:
        """Dataset-scale sink: parquet via df.write (no driver collect)."""
        writer = self.df.write.mode(mode)
        if partition_by:
            cols = partition_by.split() if isinstance(partition_by, str) else list(partition_by)
            writer = writer.partitionBy(*cols)
        writer.parquet(path)

    def orc_export(self, path: str, mode: str = "overwrite", partition_by: Any = None) -> None:
        """Dataset-scale ORC sink (df.write, no driver collect)."""
        writer = self.df.write.mode(mode)
        if partition_by:
            cols = partition_by.split() if isinstance(partition_by, str) else list(partition_by)
            writer = writer.partitionBy(*cols)
        writer.orc(path)

    def xml_export(
        self,
        path: str,
        mode: str = "overwrite",
        row_tag: str = "row",
        root_tag: str = "rows",
        **options: Any,
    ) -> None:
        """Dataset-scale XML sink (native Spark 4 writer; one file per
        partition under ``path``, no driver collect)."""
        writer = (
            self.df.write.mode(mode)
            .format("xml")
            .option("rowTag", row_tag)
            .option("rootTag", root_tag)
        )
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save(path)

    def explain(self, mode: str = "formatted") -> None:
        """Print this table's physical plan (df.explain passthrough) —
        pairs with ``lint()`` for plan hygiene checks."""
        self.df.explain(mode)

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "Table":
        """Pin the current contents (incl. order columns) across the
        next several actions; returns self for chaining."""
        from pyspark import StorageLevel

        self._require_df().persist(getattr(StorageLevel, storage_level))
        return self

    def unpersist(self) -> "Table":
        if self._df is not None:
            self._df.unpersist()
        return self

    def to_view(self, name: str | None = None) -> str:
        """Register as a temp view for spark.sql — the SQL face of the
        quasi-SQL API (free capability win: Catalyst compiles both the
        method chain and the SQL text to the same plans)."""
        view = name or self.table_name or "littletable"
        self.df.createOrReplaceTempView(view)
        return view

    def query(self, sql_text: str) -> "Table":
        """Run SQL against this table (registered as its name or `self`)."""
        view = self.to_view(self.table_name or "self")
        out = self.spark.sql(sql_text.replace("{table}", view))
        return Table.from_df(out, name=f"{self.table_name}_query")

    def info(self) -> dict[str, Any]:
        """Table statistics incl. lifecycle timestamps (littletable.py:3797-3814)."""
        return {
            "name": self.table_name,
            "fields": self.fields,
            "indexes": [(a, i.unique) for a, i in self._indexes.items()],
            "len": len(self),
            "created": self.create_time,
            "modified": self.modify_time,
            "last_import": self.import_time,
        }

    def lint(self) -> list:
        """Scale anti-pattern warnings for this table's current plan
        (single-partition windows, cartesian joins, row-at-a-time
        Python UDFs, ... — see plans/lint.py). Runs no jobs."""
        from .plans.lint import lint_plan

        return lint_plan(self._require_df())

    # ------------------------------------------------------------------ #
    # type-conversion helpers (littletable.py:1158-1284)

    def convert_numeric(
        self,
        fields: Any = None,
        empty: Any = 0,
        non_numeric: Any = None,
        force_float: bool = False,
    ) -> "Table":
        from .functions.convert import ConvertNumeric

        tf = ConvertNumeric(empty, non_numeric, force_float)
        targets = (
            self.fields
            if fields is None
            else (fields.split() if isinstance(fields, str) else list(fields))
        )
        df = self._require_df()
        for c in targets:
            df = df.withColumn(c, tf.to_column(F.col(c)))
        self._mutate(df)
        return self

    def parse_datetime_field(self, attr: str, fmt: str | None = None) -> "Table":
        from .functions.convert import ParseDatetime

        self._mutate(
            self._require_df().withColumn(
                attr, ParseDatetime(fmt).to_column(F.col(attr))
            )
        )
        return self

    def parse_date_field(self, attr: str, fmt: str | None = None) -> "Table":
        from .functions.convert import ParseDate

        self._mutate(
            self._require_df().withColumn(attr, ParseDate(fmt).to_column(F.col(attr)))
        )
        return self

    def parse_timedelta_field(self, attr: str) -> "Table":
        from .functions.convert import ParseTimedelta

        self._mutate(
            self._require_df().withColumn(
                attr, ParseTimedelta().to_column(F.col(attr))
            )
        )
        return self

    def namedtuple_from_fields(self, name: str = "Row"):
        """Row class derived from the schema (littletable.py:1480-1493)."""
        from collections import namedtuple

        return namedtuple(name, self.fields)

    # ------------------------------------------------------------------ #
    # comparators as static members (reference API: Table.gt etc.)

    lt = staticmethod(cmp.lt)
    le = staticmethod(cmp.le)
    gt = staticmethod(cmp.gt)
    ge = staticmethod(cmp.ge)
    eq = staticmethod(cmp.eq)
    ne = staticmethod(cmp.ne)
    is_none = staticmethod(cmp.is_none)
    is_not_none = staticmethod(cmp.is_not_none)
    is_null = staticmethod(cmp.is_null)
    is_not_null = staticmethod(cmp.is_not_null)
    is_in = staticmethod(cmp.is_in)
    not_in = staticmethod(cmp.not_in)
    startswith = staticmethod(cmp.startswith)
    endswith = staticmethod(cmp.endswith)
    between = staticmethod(cmp.between)
    within = staticmethod(cmp.within)
    in_range = staticmethod(cmp.in_range)
    re_match = staticmethod(cmp.re_match)

    # transform factories for importer transforms= dicts
    numeric = staticmethod(_convert.convert_numeric)
    to_datetime = staticmethod(_convert.parse_datetime)
    to_date = staticmethod(_convert.parse_date)
    to_timedelta = staticmethod(_convert.parse_timedelta)


def _parse_on(on: Any) -> tuple[str, str]:
    if isinstance(on, str):
        return on, on
    if isinstance(on, (tuple, list)) and len(on) == 2:
        return on[0], on[1]
    raise ValueError(f"unsupported join key spec: {on!r}")
