"""Streaming curated ingestion: the foreachBatch sink that turns the
durable curation indexes into a running pipeline.

Micro-batches of new documents run the full curation stack INSIDE
``foreachBatch`` — opt-in boilerplate line strip and duplicate-span
removal (text rewrites against the stored line/gram tables), MinHash
near-dup drop (within batch, then against the stored band index), and
opt-in embedding near-dup against the stored signature table — and
survivors append to the corpus AND extend every enabled index. The
settled corpus is never re-shingled or even re-scanned: each batch
costs its own fingerprinting plus one join per stage against a stored
index, which is the only cost profile that survives a 100 TB corpus
ingesting a few GB a night.

Exactly-once: Structured Streaming re-delivers a micro-batch after a
failure, so the sink writes each batch to its own
``<path>/batch_id=<id>`` partition directory with ``overwrite`` — a
re-delivered batch overwrites its own output instead of double-
appending (the standard idempotent-foreachBatch discipline). Reading
``corpus_path`` with plain ``spark.read.parquet`` recovers ``batch_id``
as a partition column for free lineage.

No reference analog (the reference has no streaming at all — SURVEY.md
§2.9); this composes the round-6 durable-index assets (operators/
dedup.py:minhash_band_table / against_bands=) with a Spark-native
sink.
"""
from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.errors import AnalysisException

from ..session import scoped_persist
from ..sources.parquet_io import read_parquet
from ..table import Table


def _as_df(obj: Any) -> DataFrame:
    return obj.df if isinstance(obj, Table) else obj


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    bands_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    collect_stats: bool = True,
    lines_path: str | None = None,
    line_min_docs: int = 2,
    line_sep: str = "\n",
    grams_path: str | None = None,
    span_k: int = 8,
    span_min_docs: int = 1,
    sigs_path: str | None = None,
    emb_col: str | None = None,
    emb_threshold: float = 0.95,
    emb_planes: int = 6,
    emb_dim: int = 64,
    emb_seed: int = 42,
    stats_path: str | None = None,
    ivf_path: str | None = None,
    ivf_centroids=None,
    ivf_codebooks=None,
    allow_schema_drift: bool = False,
) -> dict[str, int]:
    """Process ONE micro-batch (plain batch DataFrame — callable
    directly in tests or backfills, no stream required) through the
    full curation stack, every stage probing a DURABLE parquet index
    so the settled corpus is never re-scanned:

    1. boilerplate line strip (opt-in, ``lines_path``): every line the
       stored ``boilerplate_line_table`` knows is cut from the batch
       text; docs reduced to nothing drop out,
    2. duplicate-span removal (opt-in, ``grams_path``): every k-token
       run occurring in the stored ``span_gram_table`` is cut from the
       batch text — text rewrites happen BEFORE fingerprinting, so the
       MinHash signatures below see the cleaned text,
    3. within-batch near-dup drop: MinHash+LSH self-pairs, greedy
       keep-the-smaller-id policy (every ``id2`` of a candidate pair
       drops — the per-batch convention; use ``dup_clusters`` +
       ``keep_canonical`` in a batch backfill when cluster-exact
       canonicalization matters),
    4. corpus dedup: survivors probe the stored band index via
       ``against_bands=`` (no corpus scan; first batch skips this —
       the index doesn't exist yet),
    5. embedding near-dup (opt-in, ``sigs_path`` + ``emb_col``):
       within-batch hyperplane-LSH pairs, then the stored
       ``embedding_signature_table`` — the semantic complement of the
       lexical stages,
    6. idempotent append: survivors land in
       ``corpus_path/batch_id=<id>``; every enabled index extends with
       the batch's OWN rows in its ``batch_id=<id>`` partition, all
       mode=overwrite so a re-delivered batch replaces its own output.
       ``stats_path`` additionally maintains the retrieval-statistics
       asset (``term_stats_table`` per batch; probe-only — reading the
       path back through ``fold_term_stats`` yields the whole written
       corpus's stats for ``against_stats=`` retrieval, never
       re-tokenizing the corpus). ``ivf_path`` + ``ivf_centroids`` (a
       frozen (nlist × dim) model) likewise maintain a searchable ANN
       index: each batch's survivors are assigned against the frozen
       centroids (one Arrow pass over the batch alone, zero training)
       and reading ``ivf_path`` back IS an ``ivf_index_table`` for
       ``ivf_topk(against_index=)``. Passing frozen ``ivf_codebooks``
       too ((m × ksub × dsub), trained once with
       ``_train_pq_codebooks`` or taken from an ``ivf_index_table(
       pq_m=)``'s ``_pq_model``) switches the asset to the
       PRODUCT-QUANTIZED layout: batches append m-byte codes instead
       of full vectors, so the durable ANN asset grows ~1000x slower
       than the corpus at high dim.

    Incremental-index semantics for the text-rewrite stages: each
    batch contributes the lines/grams qualifying WITHIN that batch
    (``line_min_docs`` / ``span_min_docs`` counted per batch, like the
    one-shot builders bake min_docs in at build time), so the stored
    set is the union of per-batch qualifying sets — a line spread one
    occurrence per batch never qualifies, the documented approximation
    of any append-only frequency index.

    Returns counts for observability, including per-enabled-stage
    survivor counts. ``collect_stats=False`` skips every count job
    (one per enabled stage plus two) when the sink runs hot.
    """
    from ..operators.dedup import (
        boilerplate_line_table,
        embedding_lsh_dup_pairs,
        embedding_signature_table,
        line_dedup,
        remove_duplicate_spans,
        span_gram_table,
    )
    from ..operators.textops import term_stats_table

    if sigs_path is not None and emb_col is None:
        raise ValueError("sigs_path requires emb_col (the embedding column)")
    if ivf_path is not None and (emb_col is None or ivf_centroids is None):
        raise ValueError(
            "ivf_path requires emb_col and ivf_centroids (the frozen "
            "(nlist x dim) model — train once with ivf_index_table or "
            "resolve_centroids, then reuse it every batch)"
        )

    spark = batch_df.sparkSession
    bid = int(batch_id)

    # heal any compaction interrupted mid-swap BEFORE the first probe:
    # a crash between a compaction's manifest write and its publish
    # leaves the asset with sources deleted and the compacted rows
    # still in the (reader-invisible) temp dir — probing that state
    # would silently miss the settled corpus and admit duplicates.
    # Cost when nothing is pending: one fs.exists per enabled path.
    from .maintenance import _fs, _list_batch_dirs, recover_asset

    for p in (
        corpus_path, bands_path, lines_path, grams_path, sigs_path,
        ivf_path, stats_path,
    ):
        if p is not None:
            recover_asset(spark, p)

    # schema-drift guard: a plain partitioned-parquet read resolves its
    # schema from ONE footer, so a batch carrying a column (or a TYPE)
    # the settled corpus lacks would write fine and then SILENTLY
    # VANISH from / break every read. Fail loudly instead, with the
    # migration recipe; allow_schema_drift=True permits the write (and
    # skips the check entirely — no corpus metadata is touched) for
    # operators who will run the compaction migration. The baseline is
    # the single NEWEST partition's footer (highest positive batch id,
    # else the most recent compaction generation = most-negative id):
    # deterministic regardless of file-listing order, and one
    # listStatus + one footer read — the corpus data is never listed
    # recursively or scanned.
    if not allow_schema_drift:
        fs, _, jvm = _fs(spark, corpus_path)
        dirs = _list_batch_dirs(fs, jvm, corpus_path)
        stored = None
        if dirs:
            positives = [b for b in dirs if b >= 0]
            baseline = max(positives) if positives else min(dirs)
            stored = {
                f.name: f.dataType.simpleString()
                for f in read_parquet(spark, dirs[baseline]).schema.fields
                if f.name != "batch_id"
            }
        if stored is not None:
            batch = {
                f.name: f.dataType.simpleString()
                for f in batch_df.schema.fields
            }
            if batch != stored:
                only_b = sorted(set(batch) - set(stored))
                only_s = sorted(set(stored) - set(batch))
                retyped = sorted(
                    f"{c}: {stored[c]} -> {batch[c]}"
                    for c in set(batch) & set(stored)
                    if batch[c] != stored[c]
                )
                raise ValueError(
                    "ingest_batch: batch schema drifted from the stored "
                    f"corpus (batch-only: {only_b}, corpus-only: {only_s}, "
                    f"retyped: {retyped}). A plain read of the corpus "
                    "would silently drop or misread the drifted columns. "
                    "Either align the batch, or pass "
                    "allow_schema_drift=True and then run "
                    "compact_asset(spark, corpus_path, merge_schema=True) "
                    "to unify the layout so plain reads see the union "
                    "schema."
                )

    def _stored(path: str) -> DataFrame | None:
        """The stored index MINUS this batch's own partition: a
        RE-DELIVERED batch already has its own rows in the index —
        probing them would match every doc against itself and
        overwrite the partition with nothing. The exclusion is on the
        partition column, so it prunes at scan. None if the index
        doesn't exist yet (first batch): checked on the file system,
        because Spark's reader would fail it in the analyzer and log a
        stack trace per missing index."""
        fs, jpath, _ = _fs(spark, path)
        if not fs.exists(jpath):
            return None
        try:
            df = read_parquet(spark, path)
        except AnalysisException:
            return None  # a directory with no data file yet
        return df.where(F.col("batch_id") != F.lit(bid))

    counts: dict[str, int] = {"batch_id": bid}
    with scoped_persist("ingest_batch") as scope:
        batch = scope.persist(batch_df)
        counts["received"] = batch.count() if collect_stats else -1
        cur = batch

        if lines_path is not None:
            stored_lines = _stored(lines_path)
            if stored_lines is not None:
                rewritten = line_dedup(
                    Table.from_df(cur),
                    text_col,
                    id_col,
                    sep=line_sep,
                    against_lines=Table.from_df(stored_lines.select("line")),
                ).df
                # line_dedup returns (id, text, n_lines_kept) for docs
                # with at least one surviving line; join the cleaned
                # text back onto the batch's other columns
                cur = cur.drop(text_col).join(
                    rewritten.select(id_col, text_col), on=id_col, how="inner"
                )
                if collect_stats:
                    counts["after_line_strip"] = cur.count()

        if grams_path is not None:
            stored_grams = _stored(grams_path)
            if stored_grams is not None:
                rewritten = remove_duplicate_spans(
                    Table.from_df(cur),
                    text_col,
                    id_col,
                    k=span_k,
                    min_docs=1,
                    against_grams=Table.from_df(stored_grams.select("g")),
                ).df
                # span removal rewrites text; a doc cut to NOTHING was
                # wholly copied from the corpus — drop it like the line
                # stage drops all-boilerplate docs (an empty doc is not
                # training data). Note this makes the minhash stage
                # redundant for fully-copied docs when the gram index
                # is built with min_docs=1 — the band probe still
                # catches partial/fuzzy dups whose copied runs are
                # shorter than span_k.
                cur = cur.drop(text_col).join(
                    rewritten.where(F.col(text_col) != "").select(
                        id_col, text_col
                    ),
                    on=id_col,
                    how="inner",
                )
                if collect_stats:
                    counts["after_span_cut"] = cur.count()

        # Band the batch text EXACTLY ONCE (the signature depends only on
        # a doc's own text): the self-pair join, the stored-index probe,
        # and the band-table write below all derive from this one cached
        # band table instead of re-shingling + re-minhashing the batch
        # per stage (three banding passes -> one; guide §1.2 "don't
        # compute things twice"). Derivations are row-identical to the
        # minhash_lsh_pairs/minhash_band_table formulations they replace:
        # same _band_table_df rows, same join conditions, same greedy
        # keep-smaller-id policy.
        from ..operators.dedup import _PAIRGEN_CACHE, _band_table_df

        bands_cur = scope.persist(
            _band_table_df(cur, id_col, text_col, n, num_hashes, band_size),
            _PAIRGEN_CACHE,
        )
        # within-batch near-dup drop as ONE window over the band key
        # (guide §2.4): a candidate pair (id1 < id2 sharing a band row)
        # drops id2 — equivalently, every id above its band group's
        # minimum drops. The old self-join + distinct paid two extra
        # exchanges for the same id set; the window reuses the single
        # hash(band, band_key) exchange, and the anti-join below is
        # duplicate-tolerant so no distinct is needed either.
        from pyspark.sql import Window

        w_band = Window.partitionBy("band", "band_key")
        drops = (
            bands_cur.withColumn("__min__", F.min(id_col).over(w_band))
            .where(F.col(id_col) > F.col("__min__"))
            .select(id_col)
        )
        stored = _stored(bands_path)
        if stored is not None:
            # stored-index probe over the WHOLE batch band table (no
            # survivor semi-join first): probing a within-batch-dropped
            # id only re-drops it — (A − B) − C == A − (B ∪ C) — so the
            # final survivor set is identical while the semi-join, the
            # distinct and the second anti-join all disappear; one
            # union + ONE anti-join remains (guide §2.4).
            cross = (
                bands_cur.alias("a")
                .join(
                    stored.select(id_col, "band", "band_key").alias("b"),
                    on=[
                        F.col("a.band") == F.col("b.band"),
                        F.col("a.band_key") == F.col("b.band_key"),
                    ],
                )
                .select(F.col(f"a.{id_col}").alias(id_col))
            )
            drops = drops.unionByName(cross)
        kept = cur.join(drops, on=id_col, how="left_anti")
        if collect_stats:
            counts["after_minhash"] = kept.count()

        if sigs_path is not None:
            et = Table.from_df(kept, name=f"ingest_emb_{bid}")
            eself = embedding_lsh_dup_pairs(
                et, id_col, emb_col, threshold=emb_threshold,
                n_planes=emb_planes, dim=emb_dim, seed=emb_seed,
            ).df
            kept = kept.join(
                eself.select(F.col("id2").alias(id_col)).distinct(),
                on=id_col,
                how="left_anti",
            )
            stored_sigs = _stored(sigs_path)
            if stored_sigs is not None:
                ecross = embedding_lsh_dup_pairs(
                    Table.from_df(kept),
                    id_col,
                    emb_col,
                    threshold=emb_threshold,
                    n_planes=emb_planes,
                    dim=emb_dim,
                    seed=emb_seed,
                    against_sigs=Table.from_df(
                        stored_sigs.select(id_col, emb_col, "sig")
                    ),
                ).df
                kept = kept.join(
                    ecross.select(F.col("id1").alias(id_col)).distinct(),
                    on=id_col,
                    how="left_anti",
                )
            if collect_stats:
                counts["after_embedding"] = kept.count()

        kept = scope.persist(kept)
        # ONE parallel action fills the survivor cache (and the band
        # cache its plan reads twice) so every asset write below is
        # a read of memory, not a re-materialization of the curation
        # pipeline behind its own shuffle. The count doubles as the
        # observability figure when collect_stats is on; when off it
        # is still run as the cache fill — it REPLACES the per-write
        # REBALANCE shuffles (measured ~0.4 s of pure AQE-stage
        # overhead per tiny write), so the hot path runs strictly
        # fewer jobs than before (guide §1.2, §2.6).
        n_kept = kept.count()
        counts["appended"] = n_kept if collect_stats else -1
        kt = Table.from_df(kept, name=f"ingest_kept_{bid}")

        # SIZE-ADAPTIVE asset writes (guide §6): output files are
        # size-targeted, never partition-count-targeted. A frame
        # whose (post-fill, cache-informed) plan stats fit in ONE
        # target file coalesces — no shuffle, one output file; a
        # bigger frame goes through the AQE REBALANCE shuffle, which
        # splits by advisoryPartitionSize (parallel, skew-safe) —
        # the decision is data-derived per asset per batch, so a
        # few-hundred-KB nightly batch writes one file while a
        # multi-GB backfill batch fans out to ~target-sized files.
        _TARGET_FILE_BYTES = 256 * 1024 * 1024  # in-memory estimate

        def _append(df: DataFrame, root: str) -> None:
            try:
                est = int(
                    str(
                        df._jdf.queryExecution()
                        .optimizedPlan()
                        .stats()
                        .sizeInBytes()
                    )
                )
            except Exception:
                est = None
            out = (
                df.coalesce(1)
                if est is not None and est <= _TARGET_FILE_BYTES
                else df.hint("rebalance")
            )
            out.write.mode("overwrite").parquet(
                f"{root}/batch_id={bid}"
            )

        # Every enabled asset write consumes the SAME persisted
        # survivor frame (plus the cached band table) and writes a
        # disjoint path, so the writes are independent jobs — submit
        # them from a small thread pool instead of sequentially
        # (guide §2.6: overlap independent jobs so one write's task
        # tail back-fills with the next write's tasks; concurrent
        # first-fill of the kept cache is safe — the block manager
        # serializes per-partition computes). 3 in flight is enough
        # to fill the tail without the jobs fighting for executors.
        writes: list = [
            lambda: _append(kept, corpus_path),
            # survivors' band rows from the SAME cached band table
            # (the rows minhash_band_table(kt) would recompute)
            lambda: _append(
                bands_cur.join(
                    kept.select(id_col), on=id_col, how="left_semi"
                ),
                bands_path,
            ),
        ]
        if lines_path is not None:
            writes.append(
                lambda: _append(
                    boilerplate_line_table(
                        kt, text_col, id_col,
                        min_docs=line_min_docs, sep=line_sep,
                    ).df,
                    lines_path,
                )
            )
        if grams_path is not None:
            writes.append(
                lambda: _append(
                    span_gram_table(
                        kt, text_col, id_col,
                        k=span_k, min_docs=span_min_docs,
                    ).df,
                    grams_path,
                )
            )
        if sigs_path is not None:
            writes.append(
                lambda: _append(
                    embedding_signature_table(
                        kt, id_col, emb_col,
                        n_planes=emb_planes, dim=emb_dim,
                        seed=emb_seed,
                    ).df,
                    sigs_path,
                )
            )
        if ivf_path is not None:
            from ..operators.similarity import ivf_index_table

            # ANN-index maintenance (frozen model, zero training):
            # the batch's assignment + model rows land in their
            # partition — the model rows are identical every batch
            # and collapse in _load_ivf_index, so a plain parquet
            # read of ivf_path is a searchable ivf_index_table
            writes.append(
                lambda: _append(
                    ivf_index_table(
                        kt, id_col, emb_col, centroids=ivf_centroids,
                        pq_codebooks=ivf_codebooks,
                    ).df,
                    ivf_path,
                )
            )
        if stats_path is not None:
            # retrieval-stats maintenance (no probe — pure index
            # upkeep): the batch's own term_stats_table rows land
            # in their partition; batches hold DISJOINT survivor
            # docs, so fold_term_stats over a parquet read of
            # stats_path is exactly term_stats_table of the whole
            # written corpus, without ever re-tokenizing it
            writes.append(
                lambda: _append(
                    term_stats_table(kt, text_col, id_col).df,
                    stats_path,
                )
            )
        from concurrent.futures import ThreadPoolExecutor
        from pyspark.util import inheritable_thread_target

        with ThreadPoolExecutor(
            max_workers=min(3, len(writes))
        ) as pool:
            # each write thread gets its own copy of the caller's
            # local properties (job group, description, scheduler
            # pool): its jobs stay attributable and cancellable
            futures = [
                pool.submit(inheritable_thread_target(spark)(w))
                for w in writes
            ]
            for f in futures:
                f.result()  # propagate the first failure
    counts["dropped"] = (
        (counts["received"] - counts["appended"]) if collect_stats else -1
    )
    return counts


def start_curated_ingest(
    stream: Any,
    corpus_path: str,
    bands_path: str,
    checkpoint: str,
    available_now: bool = True,
    compact_every: int | None = None,
    compact_horizon: int = 2,
    **params: Any,
):
    """Wire ``ingest_batch`` into a Structured Streaming sink.

    ``stream`` is a streaming Table or DataFrame of documents;
    ``checkpoint`` is the required checkpointLocation (offsets +
    batch ids — together with the per-batch overwrite this is what
    makes restarts exactly-once). ``available_now=True`` drains the
    currently-available input and stops (the scheduled nightly-ingest
    shape); pass ``False`` for a continuously-running micro-batch
    query. Extra kwargs flow to ``ingest_batch``.

    ``compact_every=N`` makes the sink self-maintaining: after every
    Nth batch, ``compact_asset`` folds the settled partitions of the
    corpus and every enabled index into one right-sized partition
    (small-files control — see streaming/maintenance.py and the
    2.8× probe in BASELINE.md). Safe inside ``foreachBatch`` because
    micro-batches are strictly sequential: nothing reads the assets
    during the swap. Only batches older than ``compact_horizon`` are
    folded (``upto_batch_id = batch_id - horizon``) so a redelivered
    recent batch can still overwrite its own partition; batches at or
    inside the horizon are, by the checkpoint's commit log, the only
    ones a restart can redeliver."""
    df = _as_df(stream)

    asset_keys = (
        "lines_path", "grams_path", "sigs_path", "stats_path", "ivf_path",
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(batch_df, batch_id, corpus_path, bands_path, **params)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            from .maintenance import compact_asset

            spark = batch_df.sparkSession
            upto = int(batch_id) - compact_horizon
            paths = [corpus_path, bands_path] + [
                params[k] for k in asset_keys if params.get(k)
            ]
            for p in paths:
                compact_asset(
                    spark,
                    p,
                    upto_batch_id=upto,
                    dedup=(p == params.get("ivf_path")),
                )

    writer = (
        df.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
