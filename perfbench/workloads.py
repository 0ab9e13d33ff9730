"""The two workloads: which calls make up one pass, and how each
call's output is checked.

``olap`` and ``corpus`` are fixed sets of rows of the query registry in
``__spark_entry__.py``; the seed only shuffles their order inside each
pass. A ``corpus`` pass then feeds the documents, in the seed's
micro-batches, through ``streaming.ingest.ingest_batch`` into durable
corpus and band assets, with ``streaming.maintenance.compact_asset``
every few batches and a read-back after each.
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# littletable's own surface over the TPC-H tables, ``events`` and
# ``documents`` (full-text search and a link-graph pagerank over them):
# JVM codegen, shuffles and py4j plan construction, no Python workers.
# Rows that round a sum to fewer decimals than its terms carry
# (join_3way_agg and groupby_summaries round sums of price * (1 -
# discount) to cents) are left out: now and then such a sum lands on an
# exact half-cent tie, which Spark and DuckDB, summing in different
# orders, round apart.
OLAP = [
    "where_comparators", "outer_join_left", "agg_distinct",
    "pivot_counts", "cube", "window_topk_per_group", "orderby_head",
    "unique", "events_tumbling", "skew_report", "stats", "search_raw",
    "url_pagerank",
]

# Curation over ``documents`` and ``embeddings``: Python/Arrow workers,
# eager jobs before the sink and cross-call model caches. The rows reach
# the operator modules dedup, similarity, textops, classifier, urlops,
# bpe, multimodal and sampling; ``olap`` reaches search, graph, joins,
# grouping and stats. dedup_semantic also grows the persisted-RDD set
# by two on every call. The ingest sink that follows is driver- and
# job-bound and writes beside its reads.
CORPUS = [
    "dedup_minhash", "dedup_semantic", "sim_f32_topk", "text_quality_clf",
    "url_canon", "text_bpe_pack", "multimodal_decode", "sample_weighted",
]

# Queries with no SQL oracle: checked by invariants and by agreeing
# with their own first call.
NO_ORACLE = {"text_bpe_pack"}

INGEST_BATCHES = 2
COMPACT_EVERY = 2

# Steady passes per run; the per-call medians over them make
# ``pass_cpu_s``. The JVM keeps compiling olap's code for about four
# passes, each pass a little cheaper than the last, so olap takes four
# short passes and their median leaves out the dearest, mostly the
# first; a corpus pass is long and two are as many as a run has time
# for. The count is fixed so that the median always covers the same
# stage of that warm-up.
STEADY_PASSES = {"olap": 4, "corpus": 2}

# base tables each workload loads and caches during set-up
TABLES = {
    "olap": ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents"],
    "corpus": ["documents", "embeddings"],
}


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def ingest_batches(doc_ids: list[int], seed: int) -> list[list[int]]:
    """The seed's split of the documents into equal micro-batches; every
    pass of a run replays the same split."""
    ids = list(doc_ids)
    random.Random(seed).shuffle(ids)
    k = INGEST_BATCHES
    return [sorted(ids[i::k]) for i in range(k)]


# ---- output check: the multiset rule of scripts/verify_oracle.py ---- #
def _verify_oracle():
    """``scripts/verify_oracle.py`` as a module. Importing it runs no
    check, but it puts a fixed checkout path first on ``sys.path``;
    that entry is dropped again so this checkout's package stays first."""
    path = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import verify_oracle
    finally:
        sys.path[:] = path
    return verify_oracle


def multiset(rows, cols) -> tuple[tuple[str, ...], Counter]:
    """Column names and the order-insensitive multiset of rounded rows
    that ``scripts/verify_oracle.py`` compares."""
    return tuple(sorted(cols)), _verify_oracle().multiset(rows, cols)


def oracle_references(names: list[str], data_dir: str, threads: int) -> dict:
    """Reference multiset of every named query from its DuckDB twin."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for name in sorted(os.listdir(data_dir)):
        table = name.removesuffix(".parquet")
        path = os.path.join(data_dir, name)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    refs = {}
    for name in names:
        if name in NO_ORACLE:
            continue
        res = con.execute(sql[name])
        refs[name] = multiset(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return refs


BPE_BUDGET, BPE_SHARDS = 512, 8


def check_bpe_pack(rows, cols, n_docs: int) -> str | None:
    """Invariants of text_bpe_pack's packing: every document once, and
    inside each shard (documents in id order) each one starts where the
    previous one ended, at ``pack * budget + pack_offset``."""
    r = sorted((dict(zip(cols, row)) for row in rows),
               key=lambda x: (x["shard"], x["doc_id"]))
    if len({x["doc_id"] for x in r}) != n_docs or len(r) != n_docs:
        return f"{len(r)} rows for {n_docs} documents"
    start, shard = 0, None
    for x in r:
        if not 0 <= x["shard"] < BPE_SHARDS or x["n_tokens"] <= 0:
            return f"doc {x['doc_id']}: shard or token count out of range"
        if x["shard"] != shard:
            start, shard = 0, x["shard"]
        if x["pack"] * BPE_BUDGET + x["pack_offset"] != start:
            return f"doc {x['doc_id']}: starts at the wrong offset"
        start += x["n_tokens"]
    return None
