"""SparkSession helper tuned for this engine.

Local testing runs on ``local[N]``; the configuration below is chosen so
the same code scales to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from an initial high partition count.
- Arrow enabled so pandas-UDF paths and ``toPandas`` are vectorized.
- UTC session timezone so timestamp semantics are stable and match
  columnar engines (parquet instants, DuckDB naive-UTC).
- Spark's codegen cache sized to 2000 classes
  (``spark.sql.codegen.cache.maxEntries``), so a long-lived session
  compiles each generated class once. The cache is JVM-global and its
  size is fixed when the JVM first compiles, so a session created
  outside ``get_spark`` (or in a JVM that compiled before it) keeps
  Spark's 100 entries. There every pass over more than 100 distinct
  classes compiles all of them again: on a 4-vCPU host a steady pass
  of the perfbench ``olap`` workload compiled 96-136 classes and a
  ``corpus`` pass 175-183, against 0-4 with the sized cache.
"""

from __future__ import annotations

import os
import threading

from pyspark import StorageLevel
from pyspark.sql import SparkSession


def _runtime_sql_confs(cpus: int) -> dict[str, str]:
    """The SQL confs this engine depends on — all runtime-settable, so
    they can be applied both at builder time and onto a session someone
    else created (a driver harness handing us its own SparkSession must
    still get the load-bearing Arrow batching fix below)."""
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # EXACTLY Int.MaxValue: BatchedPythonArrowInput.underBatchSizeLimit
        # short-circuits on == INT_MAX and skips its per-row
        # ArrowWriter.sizeInBytes() walk (verified in the 4.1.2
        # bytecode). With the default 64m cap that walk degrades ~6x
        # session-wide once any mapInPandas input has carried an array
        # column (root-caused round 7 — BASELINE.md "Arrow-feed
        # pollution"), taxing every later Arrow pass. This restores
        # Spark 3.x batching semantics: batches are bounded by
        # maxRecordsPerBatch (10k rows) only — blob-consuming operators
        # bound their INPUT PARTITIONS instead of this conf (see
        # operators/multimodal._bounded_blob_input) so fat rows never
        # produce multi-GB batches.
        "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647b",
        # Keep the whole-stage codegen stage id out of the generated
        # class name. AQE numbers stages in the order they are created,
        # and concurrent stages finish in any order, so the same pipeline
        # can get another id on a repeat call: with the id in its name,
        # its source no longer matches the cached class and it compiles
        # again (seen on dedup_semantic_incr). The id stays in the plan
        # string (`*(n)`) and in a comment of the generated source.
        "spark.sql.codegen.useIdInClassName": "false",
    }


_APPLIED: set[int] = set()

# one slice per this many rows for driver-built frames (small_df); tiny
# model/config frames stay at ONE task while a genuinely large
# driver-side table still fans out across the cluster
_SMALL_DF_ROWS_PER_SLICE = 20_000


def small_df(spark: SparkSession, rows, schema):
    """Driver-built DataFrame with a data-derived slice count.

    ``createDataFrame`` on local data parallelizes into
    ``defaultParallelism`` slices, so the few-row model/config frames the
    operators build (stats output, search word groups, BPE merge tables,
    IVF model rows, classifier weights, …) schedule one near-empty task
    PER CORE in every consuming job — measured ~0.2 s of pure scheduling
    overhead per job at local[32], and worse on a real cluster. Deriving
    the slice count from the row count keeps a tiny frame at one task;
    `coalesce(1)` is NOT equivalent (a coalesced parallelize collection
    stalled ~5 s per action on 4.1.2 — measured, root cause scheduler-
    side, so we size the slices at creation instead).

    ``schema`` must be explicit (StructType or DDL string): the RDD
    route would otherwise sample-infer, which diverges from local-data
    inference. Rows may be tuples, dicts or Row objects.
    """
    data = rows if isinstance(rows, list) else list(rows)
    n = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-len(data) // _SMALL_DF_ROWS_PER_SLICE)),
    )
    return spark.createDataFrame(spark.sparkContext.parallelize(data, n), schema)


def apply_runtime_confs(spark: SparkSession, cpus: int | None = None) -> SparkSession:
    """Idempotently apply the engine's runtime SQL confs to a session
    created by someone else (e.g. a test harness that hands us its own
    SparkSession). Memoized per session object so hot paths can call it
    freely."""
    if id(spark) in _APPLIED:
        return spark
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    for k, v in _runtime_sql_confs(cpus).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # a conf the host locked down; the rest still apply
    _APPLIED.add(id(spark))
    return spark


def get_spark(app_name: str = "littletable_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    confs = _runtime_sql_confs(cpus)
    active = SparkSession.getActiveSession()
    if active is not None:
        # apply the runtime-settable confs to the pre-existing session
        # too — previously this returned it untouched, which silently
        # dropped the Arrow maxBytesPerBatch fix when a harness created
        # the session first (VERDICT r7 #2).
        _APPLIED.discard(id(active))
        return apply_runtime_confs(active, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # A static conf (see the module docstring), so not in
        # _runtime_sql_confs. The working set: one pass over the 115
        # registry queries at sf0.001 builds ~1,020 distinct classes.
        # 2000 holds it: a third registry round compiles 2 classes
        # instead of 1,348 (wall 61 -> 51 s, process CPU 121 -> 90 s,
        # 4-vCPU host), and metaspace after three rounds is 204 MB
        # instead of 196 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Cache ownership: every frame an operator persists has ONE owner — the
# scoped_persist it was persisted in, released when the scope exits (a
# raise included), or, for frames the returned lazy plan reads, this
# registry, which releases an operator's frames on its NEXT call unless
# a new frame is the same plan (Spark dedupes cached plans, so releasing
# an equal old frame would drop the new call's cache). A released
# persist recomputes from lineage; a released local checkpoint cannot,
# so a scope's latest checkpoint outlives a normal exit. The lock covers
# operators called from ingest's write-pool threads.
_KEPT: dict[str, list] = {}
_KEPT_LOCK = threading.Lock()


class scoped_persist:
    """``with scoped_persist(op) as scope``: ``persist`` records a frame
    (never one whose ``storageLevel`` is already set — that cache is the
    caller's), ``release`` drops one early, ``checkpoint`` supersedes the
    scope's previous checkpoint and ``keep`` hands frames to the
    registry under ``op``."""

    def __init__(self, op: str):
        self.op, self._owned, self._ckpt = op, [], None

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *exc):
        for df in self._owned:
            df.unpersist()
        if exc_type is not None:
            self._drop_checkpoint()

    def _drop_checkpoint(self) -> None:
        # DataFrame.unpersist() does not reach a local checkpoint's blocks
        if self._ckpt is not None:
            self._ckpt._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def persist(self, df, level=None):
        if df.storageLevel == StorageLevel.NONE:
            self._owned.append(df.persist() if level is None else df.persist(level))
        return df

    def release(self, df) -> None:
        if any(f is df for f in self._owned):
            self._owned = [f for f in self._owned if f is not df]
            df.unpersist()

    def checkpoint(self, df):
        # eager: the new checkpoint is materialized before the old one,
        # which its plan may read, goes
        new = df.localCheckpoint()
        self._drop_checkpoint()
        self._ckpt = new
        return new

    def keep(self, *frames) -> None:
        hashes = {f.semanticHash() for f in frames}
        mine = [f for f in self._owned if any(f is k for k in frames)]
        self._owned = [f for f in self._owned if all(f is not m for m in mine)]
        with _KEPT_LOCK:
            for f in _KEPT.get(self.op, []):
                if f.sparkSession.sparkContext._jsc is None:
                    continue  # its session stopped, and its cache with it
                if f.semanticHash() in hashes:
                    mine.append(f)
                else:
                    f.unpersist()
            _KEPT[self.op] = mine
