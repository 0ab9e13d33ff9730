"""Parquet reads whose schema comes from one footer read on the driver.

``spark.read.parquet(path)`` without a schema resolves it through
``ParquetFileFormat.mergeSchemasInParallel``, which launches a Spark job
even to read a single footer — about 60-80 ms of CPU per call on a
4-core host, whatever the table size. ``read_parquet`` picks the footer
Spark's own rule would pick (``ParquetUtils.inferSchema``: any
``_common_metadata``, then any ``_metadata``, then the first data file
by full path, over the leaves Spark's file index lists), converts it
with Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
``ParquetToSparkSchemaConverter`` built from the session's SQLConf (so
``nanosAsLong``, binary-as-string and INT96 settings apply exactly as
they would to inference), and hands the schema to the reader. Partition
columns such as ``batch_id`` are still discovered by Spark's file index.

Schema merging, missing paths, glob patterns, file-stream sink outputs
and directories with no footer to read go to plain
``spark.read.parquet``, so they behave — and fail — exactly as Spark
does.
"""

from __future__ import annotations

import functools
import json
import re
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MERGE_CONF = "spark.sql.parquet.mergeSchema"
# SparkHadoopUtil.isGlobPath
_GLOB = re.compile(r"[{}\[\]*?\\]")


def _rank(path: str) -> int:
    """Spark's footer preference: summary files first, then data."""
    name = path.rsplit("/", 1)[-1]
    return {"_common_metadata": 0, "_metadata": 1}.get(name, 2)


@functools.lru_cache(maxsize=2)
def _java(jvm) -> SimpleNamespace:
    """The JVM classes and static members below, resolved once per
    gateway: each segment of a dotted py4j name is a round trip."""
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        list_files=jvm.org.apache.spark.util.HadoopFSUtils.listFiles,
        accept_all=jvm.org.apache.hadoop.fs.GlobFilter("*"),
        input_file=jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus,
        read_footer=parquet.ParquetFooterReader.readFooter,
        skip_row_groups=(
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        ),
        Footer=jvm.org.apache.parquet.hadoop.Footer,
        Converter=parquet.ParquetToSparkSchemaConverter,
        schema_from_footer=parquet.ParquetFileFormat.readSchemaFromFooter,
    )


def _footer_schema(spark: SparkSession, paths: tuple[str, ...]) -> StructType | None:
    """The schema Spark's inference would return for ``paths``, read
    from one footer on the driver; None when Spark must decide (a
    missing path, no data file, a file-stream sink's output) or the
    footer read fails."""
    j = _java(spark._jvm)
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    leaves: list[tuple[str, object]] = []
    try:
        for p in paths:
            root = j.Path(p)
            # a file-stream sink's output is read through its log, not
            # a listing: leave it to Spark
            if root.getFileSystem(conf).exists(j.Path(root, "_spark_metadata")):
                return None
            # the file index's own listing: recursive, skipping names
            # that start with "_" or "." (markers, .compact_tmp), on the
            # driver with no job; a missing root raises
            statuses = j.list_files(root, conf, j.accept_all).head()._2()
            for i in range(statuses.length()):
                st = statuses.apply(i)
                leaves.append((st.getPath().toString(), st))
        if not leaves:
            return None
        _, pick = min(leaves, key=lambda kv: (_rank(kv[0]), kv[0]))
        meta = j.read_footer(j.input_file(pick, conf), j.skip_row_groups)
        jschema = j.schema_from_footer(
            j.Footer(pick.getPath(), meta), j.Converter(state.conf())
        )
    except Py4JJavaError:
        return None
    return StructType.fromJson(json.loads(jschema.json()))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.
    A session with ``spark.sql.parquet.mergeSchema`` on keeps Spark's
    own reader, which merges every footer."""
    schema = None
    if not any(_GLOB.search(p) for p in paths) and (
        spark.conf.get(_MERGE_CONF, "false").lower() != "true"
    ):
        schema = _footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)
