"""SemDeDup stack: cluster_embeddings (spherical k-means assignment)
and semantic_dup_pairs / semantic_dedup (within-cluster near-dup).

Differential strategy mirrors the rest of the suite: the
deterministic-init path is checked against an independent numpy model
(the same model the DuckDB oracle expresses in SQL), Lloyd refinement
against an independent re-implementation of spherical k-means, and the
k=1 degenerate case against the exact global pair operator.
"""

import numpy as np
import pytest

from littletable_spark import Table


@pytest.fixture()
def vecs(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(24, 12)
    base[1] = base[0] + 0.001 * rng.randn(12)  # planted near-dup of 0
    base[5] = base[4] + 0.001 * rng.randn(12)  # second planted pair
    t = Table("semvecs", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(x) for x in base[i]]} for i in range(24)]
    )
    return t, base


def _unit(M):
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0, 1.0, n)


def test_cluster_assignment_matches_numpy_model(vecs):
    from littletable_spark.operators.similarity import cluster_embeddings

    t, base = vecs
    init = [0, 4, 8]
    out = {
        r.vec_id: (r.cluster, r.cosine)
        for r in cluster_embeddings(
            t, "vec_id", "embedding", init_ids=init, train_iters=0
        )
    }
    cents = _unit(base[init])
    scores = np.round(_unit(base) @ cents.T, 6)
    for i in range(24):
        cl = int(np.argmax(scores[i]))
        assert out[i][0] == cl
        assert abs(out[i][1] - scores[i][cl]) < 1e-9


def test_cluster_lloyd_matches_independent_model(vecs):
    """train_iters>0 with a sample covering the whole table must equal an
    independent spherical-k-means re-implementation (assign to nearest by
    cosine, mean, renormalize) started from the same pinned centroids."""
    from littletable_spark.operators.similarity import cluster_embeddings

    t, base = vecs
    init = [0, 8, 16]
    iters = 3

    # independent model — plain Lloyd over unit vectors. The operator's
    # trainer samples in md5-hash order, but with sample_size >= N the
    # sample is the whole table and mean/assign are order-independent.
    Xn = _unit(base)
    C = _unit(base[init]).copy()
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(len(C)):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / (np.linalg.norm(m) or 1.0)
    scores = np.round(Xn @ C.T, 6)

    out = {
        r.vec_id: r.cluster
        for r in cluster_embeddings(
            t,
            "vec_id",
            "embedding",
            init_ids=init,
            train_iters=iters,
            sample_size=1000,
        )
    }
    for i in range(24):
        assert out[i] == int(np.argmax(scores[i]))


def test_cluster_assignment_is_reshard_stable(vecs):
    from littletable_spark.operators.similarity import cluster_embeddings

    t, _ = vecs
    a = sorted(
        (r.vec_id, r.cluster, r.cosine)
        for r in cluster_embeddings(
            t, "vec_id", "embedding", init_ids=[0, 4], train_iters=0
        )
    )
    t2 = t._derive(t._require_df().repartition(7))
    b = sorted(
        (r.vec_id, r.cluster, r.cosine)
        for r in cluster_embeddings(
            t2, "vec_id", "embedding", init_ids=[0, 4], train_iters=0
        )
    )
    assert a == b


def test_cluster_missing_init_id_raises(vecs):
    from littletable_spark.operators.similarity import cluster_embeddings

    t, _ = vecs
    with pytest.raises(ValueError, match="init_ids not found"):
        cluster_embeddings(t, "vec_id", "embedding", init_ids=[0, 999])


def test_semantic_pairs_match_blocked_numpy_model(vecs):
    from littletable_spark.operators.dedup import semantic_dup_pairs
    from littletable_spark.operators.similarity import cluster_embeddings

    t, base = vecs
    clusters = cluster_embeddings(
        t, "vec_id", "embedding", init_ids=[0, 8, 16], train_iters=0
    )
    assign = {r.vec_id: r.cluster for r in clusters}
    Xn = _unit(base)
    sims = np.round(Xn @ Xn.T, 6)
    tau = 0.2
    expect = {
        (i, j)
        for i in range(24)
        for j in range(i + 1, 24)
        if assign[i] == assign[j] and sims[i][j] >= tau
    }
    got = {
        (r.id1, r.id2): (r.cluster, r.cosine)
        for r in semantic_dup_pairs(
            t, "vec_id", "embedding", threshold=tau, clusters=clusters
        )
    }
    assert set(got) == expect
    for (i, j), (cl, cos) in got.items():
        assert cl == assign[i] == assign[j]
        assert abs(cos - sims[i][j]) < 2e-6


def test_semantic_pairs_single_cluster_equals_global_exact(vecs):
    """k=1 degenerate case: one cluster blocks nothing, so the pair set
    must equal the exact global O(N²) operator's."""
    from littletable_spark.operators.dedup import (
        embedding_dup_pairs,
        semantic_dup_pairs,
    )

    t, _ = vecs
    exact = {
        (r.id1, r.id2)
        for r in embedding_dup_pairs(t, "vec_id", "embedding", threshold=0.2)
    }
    got = {
        (r.id1, r.id2)
        for r in semantic_dup_pairs(
            t, "vec_id", "embedding", threshold=0.2, init_ids=[0], train_iters=0
        )
    }
    assert got == exact


def test_semantic_dedup_keeps_canonical(vecs):
    from littletable_spark.operators.dedup import semantic_dedup

    t, _ = vecs
    kept = {
        r.vec_id
        for r in semantic_dedup(
            t, "vec_id", "embedding", threshold=0.999, init_ids=[0, 8], train_iters=0
        )
    }
    # both planted twins collapse to their min-id member
    assert 0 in kept and 1 not in kept
    assert 4 in kept and 5 not in kept
    assert len(kept) == 22


def test_semantic_dedup_score_col_keeps_best(vecs, spark):
    from littletable_spark.operators.dedup import semantic_dedup

    t, _ = vecs
    scored = t.compute_field("quality", lambda rec: float(rec.vec_id))
    kept = {
        r.vec_id
        for r in semantic_dedup(
            scored,
            "vec_id",
            "embedding",
            threshold=0.999,
            init_ids=[0, 8],
            train_iters=0,
            score_col="quality",
        )
    }
    # keep-the-best policy: the HIGHER-scored twin survives
    assert 1 in kept and 0 not in kept
    assert 5 in kept and 4 not in kept


def test_semantic_pairs_string_labels_and_ids(spark):
    """domain-blocked dedup: string doc ids + string blocking labels
    (the precomputed-clusters path); NULL-labeled rows are excluded."""
    import numpy as np

    from littletable_spark.operators.dedup import semantic_dup_pairs

    rng = np.random.RandomState(3)
    base = rng.randn(6, 8)
    base[1] = base[0] + 0.001 * rng.randn(8)  # near-dup, same domain
    base[3] = base[2] + 0.001 * rng.randn(8)  # near-dup, SPLIT domains
    t = Table("strvecs", spark=spark)
    t.insert_many(
        [
            {"doc": f"d{i}", "embedding": [float(x) for x in base[i]]}
            for i in range(6)
        ]
    )
    labels = Table("labels", spark=spark)
    labels.insert_many(
        [
            {"doc": "d0", "cluster": "a.com"},
            {"doc": "d1", "cluster": "a.com"},
            {"doc": "d2", "cluster": "a.com"},
            {"doc": "d3", "cluster": "b.org"},
            {"doc": "d4", "cluster": "b.org"},
            {"doc": "d5", "cluster": None},
        ]
    )
    got = {
        (r.id1, r.id2): r.cluster
        for r in semantic_dup_pairs(
            t, "doc", "embedding", threshold=0.999, clusters=labels
        )
    }
    # same-domain twin found; twin split across domains is NOT compared
    assert got == {("d0", "d1"): "a.com"}


def test_embedding_pairs_string_ids_match_semantic_pairs(spark):
    """String ids keep their dtype through the exact block-pair
    operator, as through semantic_dup_pairs: with one cluster the two
    return the same pairs, ordered lexicographically. block_rows=2
    splits the table into several blocks, so both the same-block and
    the cross-block id ordering run. The LSH operator's two scorers
    (JVM fold and the Arrow row-pair kernel) keep them too."""
    from littletable_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_lsh_dup_pairs,
        semantic_dup_pairs,
    )

    rng = np.random.RandomState(3)
    base = rng.randn(6, 8)
    base[1] = base[0] + 0.001 * rng.randn(8)
    base[3] = base[2] + 0.001 * rng.randn(8)
    t = Table("strids", spark=spark)
    t.insert_many(
        [
            {"doc": f"d{i}", "embedding": [float(x) for x in base[i]]}
            for i in range(6)
        ]
    )
    exact = {
        (r.id1, r.id2, r.cosine)
        for r in embedding_dup_pairs(t, "doc", "embedding", 0.99, block_rows=2)
    }
    semantic = {
        (r.id1, r.id2, r.cosine)
        for r in semantic_dup_pairs(
            t, "doc", "embedding", threshold=0.99, init_ids=["d0"],
            train_iters=0, block_rows=2,
        )
    }
    assert exact == semantic
    assert {(a, b) for a, b, _ in exact} == {("d0", "d1"), ("d2", "d3")}
    lsh = [
        {
            (r.id1, r.id2, r.cosine)
            for r in embedding_lsh_dup_pairs(
                t, "doc", "embedding", 0.99, n_planes=2, dim=8, use_arrow=arrow
            )
        }
        for arrow in (False, True)
    ]
    assert lsh[0] == lsh[1] and lsh[0] <= exact


def test_cluster_embeddings_pretrained_centroids(vecs):
    """centroids= bypasses training: assignment equals the numpy model
    of nearest-given-vector (the train-once-assign-forever path)."""
    from littletable_spark.operators.similarity import cluster_embeddings

    t, base = vecs
    C = np.stack([base[2], base[9], base[17]])
    out = {
        r.vec_id: r.cluster
        for r in cluster_embeddings(t, "vec_id", "embedding", centroids=C)
    }
    scores = np.round(_unit(base) @ _unit(C).T, 6)
    for i in range(24):
        assert out[i] == int(np.argmax(scores[i]))


def test_semantic_pairs_incremental_matches_cross_side_of_self_join(vecs):
    """against= equivalence under a SHARED frozen model: the incremental
    pair set must be exactly the cross-side subset of the full
    self-join's pairs (same centroids on both runs)."""
    from littletable_spark.operators.dedup import semantic_dup_pairs

    t, base = vecs
    C = np.stack([base[0], base[8], base[16]])
    tau = 0.2
    full = semantic_dup_pairs(t, "vec_id", "embedding", threshold=tau, centroids=C)
    new = t.where(vec_id=Table.lt(6))
    corpus = t.where(vec_id=Table.ge(6))
    expect = {}
    for r in full:
        a, b = r.id1, r.id2
        if a < 6 <= b:
            expect[(a, b)] = r.cosine
        elif b < 6 <= a:
            expect[(b, a)] = r.cosine
    got = {
        (r.id1, r.id2): r.cosine
        for r in semantic_dup_pairs(
            new, "vec_id", "embedding", threshold=tau, against=corpus, centroids=C
        )
    }
    assert got == expect and expect  # non-trivial


def test_semantic_dedup_incremental_drops_matched_new_rows(vecs):
    from littletable_spark.operators.dedup import semantic_dedup

    t, base = vecs
    C = np.stack([base[0], base[8]])
    new = t.where(vec_id=Table.lt(2))  # 0 and its planted twin 1
    corpus = t.where(vec_id=Table.ge(2))
    # corpus holds no twin of 0/1 at tau=0.999 -> nothing dropped
    kept = {
        r.vec_id
        for r in semantic_dedup(
            new, "vec_id", "embedding", threshold=0.999, against=corpus, centroids=C
        )
    }
    assert kept == {0, 1}  # within-batch twins are NOT collapsed here
    # move the twin into the corpus: the new row that matches it drops
    new2 = t.where(vec_id=Table.lt(1))
    corpus2 = t.where(vec_id=Table.ge(1))
    kept2 = {
        r.vec_id
        for r in semantic_dedup(
            new2, "vec_id", "embedding", threshold=0.999, against=corpus2, centroids=C
        )
    }
    assert kept2 == set()


def test_semantic_operators_lint_clean(vecs):
    from littletable_spark.operators.dedup import semantic_dup_pairs
    from littletable_spark.operators.similarity import cluster_embeddings

    t, _ = vecs
    clusters = cluster_embeddings(
        t, "vec_id", "embedding", init_ids=[0, 8], train_iters=0
    )
    assert clusters.lint() == []
    pairs = semantic_dup_pairs(
        t, "vec_id", "embedding", threshold=0.3, clusters=clusters
    )
    assert pairs.lint() == []
