"""Maintenance for the durable curation assets: small-file compaction.

``ingest_batch`` appends one ``batch_id=<id>`` parquet partition per
micro-batch to every enabled asset (corpus, band index, signature
table, gram/line tables, term stats, IVF index). That layout is what
makes redelivery idempotent, but a nightly crawl emits hundreds of
micro-batches a day, and each partition holds a handful of tiny files
— the classic small-files problem: at 100 TB-corpus scale the asset
directory listing and per-file open overhead start to dominate probe
cost long before the data does. ``compact_asset`` folds the settled
partitions into one right-sized partition so probe reads stay a few
large columnar scans forever.

Semantics are pure layout: the compacted asset holds exactly the same
row multiset (or, with ``dedup=True``, the distinct set — correct for
the IVF index whose identical frozen-model rows repeat per batch by
design), so every reader — ``against_bands=`` probes,
``fold_term_stats``, ``against_index=`` search — returns identical
results before and after. Compacted rows land in a fresh RESERVED
NEGATIVE partition (``batch_id=-<k>``), disjoint from all past and
future micro-batch ids, so later ``ingest_batch`` appends (and
redelivery overwrites) compose unchanged.

Crash safety is a manifest-led two-phase swap (write everything, then
publish): the compacted data is first written to a dot-prefixed temp
dir (invisible to Spark readers), then a manifest records the intent,
then source partitions are deleted and the temp dir renamed into
place, then the manifest is removed. A crash anywhere leaves either
the original partitions intact (manifest absent → stale temp is
garbage) or a manifest whose instructions ``compact_asset`` replays
idempotently on the next call. The swap window itself is not
snapshot-isolated — parquet directories are not a transaction log —
so run compaction when no query is mid-scan on the asset (a table
format like Delta/Iceberg is the upgrade path if that guarantee is
ever needed).

No reference analog (the reference is in-memory and has no durable
index assets); this is net-new scale engineering for the streaming
ingest stack (streaming/ingest.py).
"""
from __future__ import annotations

import json

from pyspark.sql import SparkSession

from ..sources.parquet_io import read_parquet

_TMP = ".compact_tmp"
_MANIFEST = ".compact_manifest"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _jp(jvm, *parts: str):
    return jvm.org.apache.hadoop.fs.Path("/".join(parts))


def _list_batch_dirs(fs, jvm, root: str) -> dict[int, str]:
    """Map batch_id -> absolute dir path for every batch partition.

    Missing root (an asset queried before its first ingest batch, or a
    mistyped path) is an empty asset, not a raw Java
    FileNotFoundException. (ADVICE r7 #2)
    """
    if not fs.exists(_jp(jvm, root)):
        return {}
    out: dict[int, str] = {}
    for st in fs.listStatus(_jp(jvm, root)):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            out[bid] = st.getPath().toString()
    return out


def _dir_stats(fs, jvm, dirs: list[str]) -> tuple[int, int]:
    """(total data files, total bytes) across dirs, skipping markers."""
    files = 0
    bytes_ = 0
    for d in dirs:
        it = fs.listFiles(_jp(jvm, d), True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            files += 1
            bytes_ += st.getLen()
    return files, bytes_


def _read_manifest(fs, jvm, root: str) -> dict | None:
    mpath = _jp(jvm, root, _MANIFEST)
    if not fs.exists(mpath):
        return None
    stream = fs.open(mpath)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_manifest(fs, jvm, root: str, manifest: dict) -> None:
    stream = fs.create(_jp(jvm, root, _MANIFEST), True)
    try:
        stream.write(json.dumps(manifest).encode("utf-8"))
    finally:
        stream.close()


def _finish_swap(fs, jvm, root: str, manifest: dict) -> None:
    """Replay the publish phase (idempotent): delete the source
    partitions, rename temp -> dest, drop the manifest."""
    for name in manifest["sources"]:
        p = _jp(jvm, root, name)
        if fs.exists(p):
            fs.delete(p, True)
    tmp = _jp(jvm, root, _TMP)
    dest = _jp(jvm, root, manifest["dest"])
    if fs.exists(tmp):
        # a dest left by a partially-replayed previous attempt would
        # make POSIX-style rename move tmp INSIDE it; clear it first
        # (while tmp exists, tmp is the authoritative copy)
        if fs.exists(dest):
            fs.delete(dest, True)
        # Hadoop FileSystem.rename reports failure by RETURNING FALSE,
        # not by throwing. If the rename fails, the temp dir holds the
        # ONLY copy of the compacted rows (sources are already gone) —
        # falling through to the manifest delete would let the next
        # recover_asset treat tmp as pre-publish garbage and delete it:
        # silent permanent data loss. Keep the manifest so the swap
        # stays replayable and surface the failure. (ADVICE r7 #1)
        if not fs.rename(tmp, dest):
            raise IOError(
                f"compact_asset publish failed: rename {tmp} -> {dest} "
                "returned false; manifest left in place — re-run "
                "compact_asset/recover_asset to replay the swap"
            )
    fs.delete(_jp(jvm, root, _MANIFEST), False)


def recover_asset(spark: SparkSession, path: str) -> bool:
    """Complete an interrupted compaction swap, if one is pending.

    Returns True if a pending manifest was found and replayed. Called
    automatically by ``compact_asset``; expose it separately so an
    ingest job can also heal an asset before its first probe.
    """
    fs, _, jvm = _fs(spark, path)
    manifest = _read_manifest(fs, jvm, path)
    if manifest is None:
        # a temp dir without a manifest is a pre-publish crash: the
        # source partitions are untouched, the temp is garbage
        tmp = _jp(jvm, path, _TMP)
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return False
    _finish_swap(fs, jvm, path, manifest)
    return True


def asset_info(spark: SparkSession, path: str) -> dict:
    """Layout diagnostics for a durable asset: partition count, file
    count, bytes, and the batch-id range — the numbers that tell you
    when to compact."""
    fs, _, jvm = _fs(spark, path)
    dirs = _list_batch_dirs(fs, jvm, path)
    files, bytes_ = _dir_stats(fs, jvm, list(dirs.values()))
    return {
        "partitions": len(dirs),
        "files": files,
        "bytes": bytes_,
        "min_batch_id": min(dirs) if dirs else None,
        "max_batch_id": max(dirs) if dirs else None,
        "pending_compaction": _read_manifest(fs, jvm, path) is not None,
    }


def compact_asset(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    upto_batch_id: int | None = None,
    dedup: bool = False,
    max_generations: int = 4,
    merge_schema: bool = False,
) -> dict:
    """Fold an asset's settled ``batch_id=*`` partitions into one
    right-sized partition. Returns a stats dict.

    ``upto_batch_id`` limits compaction to partitions with
    ``batch_id <= upto`` (plus prior compacted partitions): pass the
    last CHECKPOINT-COMMITTED batch id so a partition that could still
    be redelivered (and therefore overwritten in place) is never
    folded away. With the default ``None`` every partition is folded —
    correct for backfills and quiesced streams.

    ``dedup=True`` keeps only distinct rows — use for the IVF index,
    where the frozen-model rows repeat identically in every batch
    partition by design. Leave False for the term-stats asset (its
    reader SUMS rows across partitions) and for anything else where
    the row multiset is the data.

    Compaction is GENERATIONAL (LSM-style tiering) so periodic calls
    never rewrite the whole asset: each call folds only the newly
    settled positive partitions into a fresh negative-id generation,
    and the negative generations themselves are merged only once
    ``max_generations`` of them exist — per-cycle I/O stays
    proportional to new data, with occasional full merges amortizing
    to O(log n) rewrites of any given row rather than one rewrite per
    cycle. ``max_generations=1`` forces a full single-partition merge
    every call (the quiesced-backfill shape).

    Generation ids are ``batch_id=-<k>`` with ``k`` strictly greater
    than every absolute batch id consumed, so a name can never collide
    with a future micro-batch (always >= 0) or a previous generation.
    Output is sized at ``ceil(bytes / target_file_mb)`` files so a
    100 GB fold compacts to ~800 files at the default, never to 1
    giant or 10k tiny ones.
    """
    fs, _, jvm = _fs(spark, path)
    recover_asset(spark, path)

    dirs = _list_batch_dirs(fs, jvm, path)
    fresh = {
        bid: d
        for bid, d in dirs.items()
        if bid >= 0 and (upto_batch_id is None or bid <= upto_batch_id)
    }
    generations = {bid: d for bid, d in dirs.items() if bid < 0}
    selected = dict(fresh)
    if len(generations) + (1 if fresh else 0) > max(1, max_generations):
        selected.update(generations)
    if len(selected) <= 1:
        files, bytes_ = _dir_stats(fs, jvm, list(dirs.values()))
        return {
            "compacted": 0,
            "dest": None,
            "files_before": files,
            "files_after": files,
            "bytes": bytes_,
        }

    files_before, bytes_ = _dir_stats(fs, jvm, list(selected.values()))
    # reading the explicit partition dirs (no basePath) drops the
    # batch_id partition column, leaving pure data rows to rewrite.
    # merge_schema=True is the SCHEMA MIGRATION path: partitions whose
    # schemas drifted (a mid-crawl batch added a column, written with
    # allow_schema_drift=True) are unioned to the full column set —
    # missing columns become NULLs — so after this rewrite a plain
    # single-footer read sees the union schema again. WITHOUT it, a
    # fold across drifted partitions would resolve its schema from one
    # arbitrary footer, silently DROP the other partitions' extra
    # columns, and then delete the only copies — so heterogeneous
    # selections are refused outright (one footer read per selected
    # partition, driver-side, no data scan).
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    else:
        schemas = {
            bid: read_parquet(spark, d).schema for bid, d in selected.items()
        }
        shapes = {
            bid: tuple((f.name, f.dataType.simpleString()) for f in sch.fields)
            for bid, sch in schemas.items()
        }
        if len(set(shapes.values())) > 1:
            by_schema: dict = {}
            for bid, sch in shapes.items():
                by_schema.setdefault(sch, []).append(bid)
            raise ValueError(
                "compact_asset: the selected partitions carry DIFFERENT "
                "schemas — a plain fold would silently drop the drifted "
                "columns and then delete their only copies. Partition "
                f"groups: { {str(dict(k)): v for k, v in by_schema.items()} }. "
                "Re-run with merge_schema=True to fold to the union "
                "schema (missing columns NULL-filled)."
            )
        # fold with the schema just verified: no second footer read
        reader = reader.schema(next(iter(schemas.values())))
    df = reader.parquet(*selected.values())
    if dedup:
        df = df.distinct()
    n_files = max(1, -(-bytes_ // (target_file_mb * 1024 * 1024)))
    dest_id = -(max(abs(b) for b in selected) + 1)
    dest = f"batch_id={dest_id}"

    tmp_path = f"{path}/{_TMP}"
    tmp = _jp(jvm, tmp_path)
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # merging scan partitions needs no shuffle; a distinct, or fewer
    # scan partitions than target files, still repartitions
    if not dedup and df.rdd.getNumPartitions() >= n_files:
        df = df.coalesce(n_files)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(tmp_path)
    # publish: from this point the swap is replayable from the manifest
    # — the SAME dict drives both paths so replay can never diverge
    manifest = {
        "sources": [f"batch_id={b}" for b in selected],
        "dest": dest,
    }
    _write_manifest(fs, jvm, path, manifest)
    _finish_swap(fs, jvm, path, manifest)
    files_after, _ = _dir_stats(fs, jvm, [f"{path}/{dest}"])
    return {
        "compacted": len(selected),
        "dest": dest,
        "files_before": files_before,
        "files_after": files_after,
        "bytes": bytes_,
    }
