"""Cache ownership: a long-lived session must not accumulate persisted
RDDs across repeated operator calls, and every exit path — a raise
included — must release what the call acquired.

The count is ``getPersistentRDDs().size()``: one entry per materialized
cache or local checkpoint. Each operator runs twice on DIFFERENT inputs;
the second call may not leave more entries than the first. The pinned
sites are exempt by design (the local checkpoint a returned plan reads:
the last ``dup_clusters`` round, a tol= ``pagerank`` checkpoint,
``enrich_stream`` dimension frames) — none of them is exercised here
except the distributed ``dup_clusters``, whose allowance is its one last
round."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark import StorageLevel

from littletable_spark import Table
from littletable_spark.operators import dedup as D
from littletable_spark.operators import graph as G
from littletable_spark.operators import textops as T
from littletable_spark.operators.grouping import consecutive_runs

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


def _n(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark, variant: int, n: int = 12) -> Table:
    """Docs with planted near-duplicates and shared boilerplate lines;
    ``variant`` shifts both the ids and the text, so two variants are
    different plans and different data."""
    rows = []
    for i in range(n):
        words = [_WORDS[(i * 5 + j + variant) % len(_WORDS)] for j in range(12)]
        if i % 3 == 1:  # near-dup of the previous doc
            words = [_WORDS[((i - 1) * 5 + j + variant) % len(_WORDS)] for j in range(12)]
            words[-1] = "tail"
        text = " ".join(words) + "\ncopyright footer line\nshared nav line"
        rows.append({"doc_id": variant * 100 + i, "text": text})
    t = Table(f"docs{variant}", spark=spark)
    t.insert_many(rows)
    return t


def _vecs(spark, variant: int, n: int = 16) -> Table:
    rng = np.random.RandomState(variant)
    base = rng.randn(n, 8)
    base[1] = base[0] + 0.001 * rng.randn(8)
    t = Table(f"vecs{variant}", spark=spark)
    t.insert_many(
        [{"vec_id": variant * 100 + i, "embedding": [float(x) for x in base[i]]}
         for i in range(n)]
    )
    return t


def _edges(spark, variant: int) -> Table:
    t = Table(f"edges{variant}", spark=spark)
    t.insert_many(
        [{"src": i, "dst": (i * 3 + variant + 1) % 9} for i in range(9)]
        + [{"src": i, "dst": (i + 1) % 9} for i in range(0, 9, 2)]
    )
    return t


def _pairs_df(spark, variant: int):
    rows = [(variant * 100 + i, variant * 100 + i + 1) for i in range(0, 8, 2)]
    return spark.createDataFrame(rows, "id1 long, id2 long")


def _ingest(spark, variant: int):
    root = tempfile.mkdtemp(prefix="lts_persist_")
    try:
        from littletable_spark.streaming import ingest_batch

        batch = _docs(spark, variant).df.select("doc_id", "text")
        ingest_batch(batch, 0, f"{root}/corpus", f"{root}/bands")
        return spark.createDataFrame([(1,)], "x int")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bag(spark, variant: int) -> Table:
    """A sorted two-epoch table with duplicate sort keys."""
    t = Table(f"bag{variant}", spark=spark)
    t.insert_many([{"k": (i * 7 + variant) % 4, "v": variant * 100 + i} for i in range(8)])
    t.insert_many([{"k": i % 3, "v": variant * 100 + 50 + i} for i in range(6)])
    return t.orderby("k")


def _deleted(spark, variant: int):
    t = _bag(spark, variant)
    del t[::2]
    return t.df


def _removed(spark, variant: int):
    t = _bag(spark, variant)
    return t.remove({"k": variant % 4, "v": variant * 100}).df


def _done(spark, tables):
    """Read every yielded table, then hand back a trivial frame."""
    for t in tables:
        list(t)
    return spark.createDataFrame([(1,)], "x int")


def _tfidf_incr(spark, variant: int):
    import atexit

    import __spark_entry__ as entry

    root = tempfile.mkdtemp(prefix="lts_persist_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    _docs(spark, variant).df.write.parquet(f"{root}/documents.parquet")
    return entry.q_text_tfidf_incr(spark, root)


# (name, fn(spark, variant) -> a DataFrame whose materialization runs
# every cache the call set up)
OPERATORS = [
    ("minhash_lsh_pairs", lambda s, v: D.minhash_lsh_pairs(
        _docs(s, v), "doc_id", "text", num_hashes=8, band_size=2).df),
    ("minhash_lsh_pairs_against", lambda s, v: D.minhash_lsh_pairs(
        _docs(s, v), "doc_id", "text", num_hashes=8, band_size=2,
        against=_docs(s, 7)).df),
    ("ngram_jaccard_pairs", lambda s, v: D.ngram_jaccard_pairs(
        _docs(s, v), "doc_id", "text", threshold=0.5).df),
    ("simhash_dedup_pairs", lambda s, v: D.simhash_dedup_pairs(
        _docs(s, v), "doc_id", "text").df),
    ("embedding_dup_pairs", lambda s, v: D.embedding_dup_pairs(
        _vecs(s, v), "vec_id", "embedding", threshold=0.9).df),
    ("embedding_lsh_dup_pairs", lambda s, v: D.embedding_lsh_dup_pairs(
        _vecs(s, v), "vec_id", "embedding", dim=8, threshold=0.9).df),
    ("semantic_dup_pairs", lambda s, v: D.semantic_dup_pairs(
        _vecs(s, v), "vec_id", "embedding", k=2).df),
    ("semantic_dedup", lambda s, v: D.semantic_dedup(
        _vecs(s, v), "vec_id", "embedding", k=2).df),
    ("semantic_dedup_against", lambda s, v: D.semantic_dedup(
        _vecs(s, v), "vec_id", "embedding", k=2, against=_vecs(s, 7)).df),
    ("dup_clusters_driver", lambda s, v: D.dup_clusters(_pairs_df(s, v))),
    ("duplicate_spans", lambda s, v: D.duplicate_spans(
        _docs(s, v), "text", "doc_id", k=3).df),
    ("duplicate_spans_against", lambda s, v: D.duplicate_spans(
        _docs(s, v), "text", "doc_id", k=3, min_docs=1,
        against=_docs(s, 7)).df),
    ("line_dedup", lambda s, v: D.line_dedup(_docs(s, v), "text", "doc_id").df),
    ("line_dedup_against", lambda s, v: D.line_dedup(
        _docs(s, v), "text", "doc_id", min_docs=1, against=_docs(s, 7)).df),
    ("unigram_logprob", lambda s, v: T.unigram_logprob(
        _docs(s, v), "text", "doc_id").df),
    ("bigram_logprob", lambda s, v: T.bigram_logprob(
        _docs(s, v), "text", "doc_id").df),
    ("tfidf_top_terms", lambda s, v: T.tfidf_top_terms(
        _docs(s, v), "text", "doc_id").df),
    ("contamination_check", lambda s, v: T.contamination_check(
        _docs(s, v), _docs(s, v + 50), "doc_id", "doc_id", n=3).df),
    ("pagerank_driver", lambda s, v: G.pagerank(_edges(s, v), iterations=4).df),
    ("ingest_batch", _ingest),
    ("q_text_tfidf_incr", _tfidf_incr),
    ("rank", lambda s, v: _bag(s, v).rank("r").df),
    ("slice", lambda s, v: _bag(s, v)[3:9].df),
    ("slice_stepped", lambda s, v: _bag(s, v)[10:1:-3].df),
    ("del_slice", _deleted),
    ("remove", _removed),
    ("batched", lambda s, v: _done(s, _bag(s, v).batched(4))),
    ("consecutive_runs", lambda s, v: consecutive_runs(_bag(s, v), "k", order_by="v").df),
    ("groupby_lazy", lambda s, v: _done(
        s, (sub for _, sub in _bag(s, v).groupby("k", materialize=False)))),
    ("bm25_topk", lambda s, v: T.bm25_topk(
        _docs(s, v), "text", "doc_id", "alpha beta tail", k=3).df),
]


@pytest.mark.parametrize("name,fn", OPERATORS, ids=[o[0] for o in OPERATORS])
def test_second_call_on_new_input_adds_no_persisted_rdds(spark, name, fn):
    fn(spark, 1).collect()
    after_first = _n(spark)
    fn(spark, 2).collect()
    assert _n(spark) <= after_first, name


@pytest.mark.parametrize(
    "query", ["rank", "slice_positional", "groupby_runs", "text_bm25", "text_bm25_incr"]
)
def test_registry_positional_queries_add_no_persisted_rdds(spark, monkeypatch, query):
    """The positional registry rows on fresh (uncached) base tables:
    each call leaves the persisted-RDD count where it found it."""
    import __spark_entry__ as entry

    monkeypatch.delenv("SPARK_GRAFT_CACHE_TABLES", raising=False)
    q = entry.queries()[query]
    for _ in range(2):
        before = _n(spark)
        q(spark, "/root/testdata/sf0.001").collect()
        assert _n(spark) == before, query


def test_distributed_pagerank_second_call_adds_nothing(spark, monkeypatch):
    monkeypatch.setattr(G, "_DRIVER_MAX_EDGE_ROWS", 0)
    G.pagerank(_edges(spark, 1), iterations=10).df.collect()
    after_first = _n(spark)
    G.pagerank(_edges(spark, 2), iterations=10).df.collect()
    assert _n(spark) <= after_first


def test_distributed_dup_clusters_keeps_only_its_last_round(spark):
    """The pinned exemption, bounded: one local checkpoint (the round
    the returned plan reads) per call, nothing else."""
    before = _n(spark)
    out = D.dup_clusters(_pairs_df(spark, 1), driver_edges=0)
    assert len(out.collect()) == 8
    assert _n(spark) <= before + 1


@pytest.mark.parametrize("repeat", ["semantic_dedup", "pagerank"])
def test_repeat_calls_on_same_input_do_not_grow(spark, monkeypatch, repeat):
    if repeat == "semantic_dedup":
        t = _vecs(spark, 3)

        def call():  # the surviving ids
            return sorted(
                r.vec_id
                for r in D.semantic_dedup(t, "vec_id", "embedding", k=2).df.collect()
            )
    else:
        monkeypatch.setattr(G, "_DRIVER_MAX_EDGE_ROWS", 0)
        t = _edges(spark, 3)

        def call():  # node -> rank
            return {r.node: r.rank for r in G.pagerank(t, iterations=10).df.collect()}

    first = call()
    after_first = _n(spark)
    for _ in range(2):
        assert call() == pytest.approx(first)
        assert _n(spark) <= after_first


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
@pytest.mark.parametrize("bad", ["zero_against_ranks", "absent_seeds"])
def test_pagerank_error_paths_release_everything(spark, monkeypatch, distributed, bad):
    if distributed:
        monkeypatch.setattr(G, "_DRIVER_MAX_EDGE_ROWS", 0)
    edges = _edges(spark, 4)
    kwargs = {}
    if bad == "zero_against_ranks":
        prior = Table("zero_ranks", spark=spark)
        prior.insert_many([{"node": i, "rank": 0.0} for i in range(9)])
        kwargs["against_ranks"] = prior
        match = "against_ranks sums to zero"
    else:
        seeds = Table("absent_seeds", spark=spark)
        seeds.insert_many([{"node": 999, "weight": 1.0}])
        kwargs["personalization"] = seeds
        match = "personalization seed"
    before = _n(spark)
    with pytest.raises(ValueError, match=match):
        G.pagerank(edges, iterations=10, **kwargs)
    assert _n(spark) == before


@pytest.mark.parametrize("driver_edges", [2_000_000, 0], ids=["driver", "distributed"])
def test_dup_clusters_leaves_a_caller_persisted_frame_cached(spark, driver_edges):
    pairs = _pairs_df(spark, 5).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pairs.count()
        D.dup_clusters(pairs, driver_edges=driver_edges).collect()
        assert pairs.storageLevel != StorageLevel.NONE
        assert pairs.is_cached
    finally:
        pairs.unpersist()


_RESTART = """
import sys
sys.path.insert(0, {root!r})
from littletable_spark import Table, get_spark
from littletable_spark.operators import textops as T

def docs(spark, v):
    t = Table("d", spark=spark)
    t.insert_many([{{"doc_id": i, "text": f"a b w{{i + v}}"}} for i in range(4)])
    return t

spark = get_spark(cpus=1)
T.unigram_logprob(docs(spark, 0), "text", "doc_id").df.collect()
spark.stop()
spark = get_spark(cpus=1)
T.unigram_logprob(docs(spark, 1), "text", "doc_id").df.collect()
print("restart ok")
"""


def test_registry_survives_a_session_restart(tmp_path):
    """Frames kept for a stopped session died with it: the next call on
    a new session must skip them, not fail releasing them. Runs in its
    own process, because it stops its session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "restart.py"
    script.write_text(_RESTART.format(root=root))
    done = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300
    )
    assert "restart ok" in done.stdout, done.stderr[-2000:]
