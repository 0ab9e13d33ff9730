"""littletable_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ptmcg/littletable.

The reference (littletable v3.0.3, /root/reference/littletable.py) defines
WHAT to compute: an ordered table-of-records with ORM-flavored queries,
hash indexes, full-text search, and rich import/export. This package
re-expresses those semantics Spark-first — DataFrame/SQL plans optimized
by Catalyst, scale-safe partitioning, Arrow-vectorized slow paths — plus
the large-scale training-data operators (dedup, similarity search, text
analysis, streaming windows) the reference lacks.
"""

from __future__ import annotations

from . import comparators
from .exceptions import (
    LittletableSparkError,
    NoSuchIndexError,
    SearchIndexInconsistentError,
    UniqueKeyViolation,
)
from .plans.lint import PlanWarning, lint_plan, plan_shape
from .session import get_spark
from .table import Table

__version__ = "0.1.0"


def _register_pickle_by_value() -> None:
    """Ship pure-function modules inside UDF pickles.

    Spark workers don't share the driver's sys.path; functions referenced
    from UDF closures (the search normalizer) must be serialized by value
    so the package works without being installed on every executor.
    """
    try:
        from pyspark import cloudpickle

        from .functions import normalize

        cloudpickle.register_pickle_by_value(normalize)
    except Exception:
        pass


_register_pickle_by_value()

__all__ = [
    "Table",
    "get_spark",
    "comparators",
    "LittletableSparkError",
    "UniqueKeyViolation",
    "SearchIndexInconsistentError",
    "NoSuchIndexError",
    "csv_import",
    "tsv_import",
    "json_import",
    "excel_import",
    "parquet_import",
    "binary_import",
    "text_import",
    "lint_plan",
    "plan_shape",
    "PlanWarning",
]


def csv_import(source, **kwargs):
    from .sources.csv_io import csv_import as _imp

    return _imp(source, **kwargs)


def tsv_import(source, **kwargs):
    from .sources.csv_io import csv_import as _imp

    kwargs.setdefault("delimiter", "\t")
    return _imp(source, **kwargs)


def json_import(source, **kwargs):
    from .sources.json_io import json_import as _imp

    return _imp(source, **kwargs)


def excel_import(source, **kwargs):
    from .sources.excel_io import excel_import as _imp

    return _imp(source, **kwargs)


def parquet_import(spark, path, name=""):
    return Table.parquet_import(spark, path, name)


def binary_import(spark, path, **kwargs):
    from .sources.binary_io import binary_import as _imp

    return _imp(spark, path, **kwargs)


def text_import(spark, path, **kwargs):
    from .sources.binary_io import text_import as _imp

    return _imp(spark, path, **kwargs)
