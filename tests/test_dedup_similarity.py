"""Dedup and similarity operators cross-checked against pure-Python
reference implementations on small corpora."""

import hashlib
from itertools import combinations

import pytest

from littletable_spark import Table

DOCS = [
    (0, "the cat sat on the mat and looked around quietly"),
    (1, "the cat sat on the mat and looked around quietly"),  # exact dup of 0
    (2, "the cat sat on the mat and looked around loudly"),  # near dup
    (3, "completely different words about spark query engines"),
    (4, "spark query engines process completely different words"),
    (5, "one more unrelated sentence talking about nothing much"),
]


@pytest.fixture()
def docs(spark):
    t = Table("docs", spark=spark)
    t.insert_many([{"doc_id": i, "text": s} for i, s in DOCS])
    return t


def _tokens(s):
    return [w for w in s.strip().split() if w]


def _shingles(s, n=3):
    t = _tokens(s)
    idx = range(1, max(len(t) - n + 1, 1) + 1)
    return {" ".join(t[i - 1 : i - 1 + n]) for i in idx}


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def test_exact_dedup(docs):
    from littletable_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs, ["text"], "doc_id")
    assert len(out) == 5  # 0/1 merged
    ids = sorted(r.doc_id for r in out)
    assert 0 in ids and 1 not in ids


def test_minhash_matches_python_reference(docs):
    from littletable_spark.operators.dedup import minhash_lsh_pairs

    # python reference: identical minhash banding
    sigs = {}
    for i, s in DOCS:
        sh = _shingles(s)
        sigs[i] = [min(_md5(f"{x}:{k}") for x in sh) for k in range(8)]
    expect = set()
    for (i, si), (j, sj) in combinations(sigs.items(), 2):
        a, b = min(i, j), max(i, j)
        for band in range(4):
            if si[2 * band : 2 * band + 2] == sj[2 * band : 2 * band + 2]:
                expect.add((a, b))
                break
    got = {(r.id1, r.id2) for r in minhash_lsh_pairs(docs, "doc_id", "text")}
    assert got == expect
    assert (0, 1) in got  # exact dup must be a candidate


def test_jaccard_matches_python_reference(docs):
    from littletable_spark.operators.dedup import ngram_jaccard_pairs

    expect = {}
    for (i, a), (j, b) in combinations(DOCS, 2):
        sa, sb = _shingles(a), _shingles(b)
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.5:
            expect[(min(i, j), max(i, j))] = round(jac, 6)
    got = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    }
    assert got == expect


def test_jaccard_prefix_filter_is_exactness_preserving(spark):
    """The prefix path must return EXACTLY the plain self-join's pairs
    and values — hypothesis corpora with heavy shingle overlap, both
    paths forced. (Pins the theory: docs with Jaccard >= t must share a
    shingle within each other's first sz - ceil(t*sz) + 1 shingles
    under ANY fixed global order — here the 64-bit shingle hash.)"""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from littletable_spark.operators.dedup import ngram_jaccard_pairs

    words = st.sampled_from("alpha beta gamma delta epsilon zeta".split())

    @given(
        texts=st.lists(
            st.lists(words, min_size=1, max_size=12).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        threshold=st.sampled_from([0.3, 0.5, 0.8]),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(texts, threshold):
        t = Table("pfx", spark=spark)
        t.insert_many([{"doc_id": i, "text": s} for i, s in enumerate(texts)])
        plain = {
            (r.id1, r.id2): r.jaccard
            for r in ngram_jaccard_pairs(
                t, "doc_id", "text", threshold=threshold, prefix_filter=False
            )
        }
        prefix = {
            (r.id1, r.id2): r.jaccard
            for r in ngram_jaccard_pairs(
                t, "doc_id", "text", threshold=threshold, prefix_filter=True
            )
        }
        assert plain == prefix

    check()


def test_simhash_matches_python_reference(docs):
    from littletable_spark.operators.dedup import simhash

    def py_simhash(s, bits=32):
        toks = _tokens(s)
        hashes = [int(_md5(t)[:8], 16) for t in toks]
        out = 0
        for i in range(bits):
            votes = sum(1 if h & (1 << i) else -1 for h in hashes)
            if votes > 0:
                out |= 1 << i
        return out

    from pyspark.sql import functions as F

    got = {
        r.doc_id: r.sh
        for r in docs.df.select("doc_id", simhash("text", 32).alias("sh")).collect()
    }
    for i, s in DOCS:
        assert got[i] == py_simhash(s), f"doc {i}"


def test_simhash_pairs_find_near_dups(docs):
    from littletable_spark.operators.dedup import simhash_dedup_pairs

    pairs = {
        (r.id1, r.id2): r.hamming
        for r in simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=3)
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical docs


@pytest.fixture()
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.randn(8, 16)
    base[1] = base[0] + 0.01 * rng.randn(16)  # planted near-dup of 0
    t = Table("vecs", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(x) for x in base[i]]} for i in range(8)]
    )
    return t, base


def test_cosine_topk_matches_numpy(vectors):
    import numpy as np

    from littletable_spark.operators.similarity import cosine_topk

    t, base = vectors
    norm = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norm @ norm.T
    out = cosine_topk(t, t.where(vec_id=0), "vec_id", "embedding", k=3)
    got = [(r.corpus_id, r.cosine) for r in sorted(out, key=lambda r: r.rank)]
    expect_order = np.argsort(-sims[0])
    expect = [(int(j), round(float(sims[0][j]), 6)) for j in expect_order if j != 0][:3]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for (gi, gc), (ei, ec) in zip(got, expect):
        assert abs(gc - ec) < 1e-5
    assert got[0][0] == 1  # the planted near-dup is the top neighbor


def test_lsh_topk_neighbors_score_exactly(vectors):
    from littletable_spark.operators.similarity import cosine_topk, lsh_topk

    t, _ = vectors
    q = t.where(vec_id=0)
    exact = {
        r.corpus_id: r.cosine for r in cosine_topk(t, q, "vec_id", "embedding", k=7)
    }
    approx = lsh_topk(t, q, "vec_id", "embedding", k=7, n_planes=4, dim=16, seed=1)
    for r in approx:
        # every returned neighbor's cosine must equal the exact computation
        assert abs(r.cosine - exact[r.corpus_id]) < 1e-9
    # the planted near-dup shares all hyperplane signs with its twin
    assert 1 in {r.corpus_id for r in approx}


def test_ivf_topk_exact_when_all_lists_probed(vectors):
    from littletable_spark.operators.similarity import cosine_topk, ivf_topk

    t, _ = vectors
    q = t.where(vec_id=Table.lt(2))
    exact = {
        (r.query_id, r.corpus_id): (r.cosine, r.rank)
        for r in cosine_topk(t, q, "vec_id", "embedding", k=5)
    }
    # nprobe == nlist: every list is probed, so IVF degenerates to exact
    got = {
        (r.query_id, r.corpus_id): (r.cosine, r.rank)
        for r in ivf_topk(
            t, q, "vec_id", "embedding", k=5, nlist=4, nprobe=4, seed=3
        )
    }
    assert got == exact


def test_rankers_share_one_tie_rule_at_rank_k(spark):
    """Exact duplicates (equal cosines) straddle rank k for both
    queries. The exact ranker, IVF with every list probed, and the PQ
    path with every list probed and rerank >= |corpus| must all return
    the ids and ranks of lexsort((id, -round(cos, 6))): the lower id
    wins a tie, whichever batch or partition each copy landed in.
    Integer components keep every dot product exact, so the reference
    computes the same rounded cosines."""
    import numpy as np

    from littletable_spark.operators.similarity import (
        cosine_topk,
        ivf_index_table,
        ivf_topk,
    )

    vecs = {0: [1, 0, 0, 0], 1: [0, 1, 0, 0], 25: [1, 0, 0, 0]}
    vecs[5] = [3, 1, 0, 0]  # query 0's runner-up
    for i in (14, 2, 9, 7):  # tie group for query 0: ranks 3..6
        vecs[i] = [2, 1, 0, 0]
    vecs[8] = [1, 4, 0, 0]  # query 1's best two
    vecs[6] = [1, 3, 0, 0]
    for i in (20, 3, 11):  # tie group for query 1: ranks 3..5
        vecs[i] = [0, 2, 1, 0]
    rng = np.random.RandomState(5)
    for i in range(40):
        if i not in vecs:  # orthogonal to both queries: cosine 0
            vecs[i] = [0, 0, int(rng.randint(1, 4)), int(rng.randint(1, 4))]
    ids = sorted(vecs, key=lambda i: (i * 7) % 41)
    t = Table("ties", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(x) for x in vecs[i]]} for i in ids]
    )
    t = Table.from_df(t.df.repartition(3))
    q = t.where(vec_id=Table.lt(2))
    k = 4

    C = np.array([vecs[i] for i in range(40)], dtype=np.float64)
    Q = C[:2]
    cos = np.round(
        (C @ Q.T) / np.outer(np.linalg.norm(C, axis=1), np.linalg.norm(Q, axis=1)), 6
    )
    expect = set()
    for qi in range(2):
        cand = np.array([i for i in range(40) if i != qi])
        order = np.lexsort((cand, -cos[cand, qi]))[:k]
        expect |= {(qi, int(cand[j]), r + 1) for r, j in enumerate(order)}
    # the boundary really cuts a tie group
    assert (0, 7, 4) in expect and (0, 9, 5) not in expect
    assert (1, 11, 4) in expect and (1, 20, 5) not in expect

    pq = ivf_index_table(t, "vec_id", "embedding", nlist=4, pq_m=2, pq_ksub=8, seed=1)
    rankers = {
        "cosine_topk": cosine_topk(t, q, "vec_id", "embedding", k=k),
        "ivf_topk": ivf_topk(t, q, "vec_id", "embedding", k=k, nlist=4, nprobe=4),
        "pq": ivf_topk(
            t, q, "vec_id", "embedding", k=k, nprobe=4, against_index=pq,
            rerank=1000,
        ),
    }
    for name, out in rankers.items():
        rows = list(out)
        assert {(r.query_id, r.corpus_id, r.rank) for r in rows} == expect, name
        for r in rows:
            assert r.cosine == cos[r.corpus_id, r.query_id], name


def test_ivf_topk_probed_subset_scores_exactly(vectors):
    from littletable_spark.operators.similarity import cosine_topk, ivf_topk

    t, _ = vectors
    q = t.where(vec_id=0)
    exact = {
        r.corpus_id: r.cosine for r in cosine_topk(t, q, "vec_id", "embedding", k=7)
    }
    approx = ivf_topk(
        t, q, "vec_id", "embedding", k=7, nlist=4, nprobe=2, seed=3
    )
    rows = list(approx)
    assert rows, "probing the query's own cluster must return candidates"
    for r in rows:
        # candidates come from probed lists only, but scores are exact
        assert abs(r.cosine - exact[r.corpus_id]) < 1e-9
    # the planted near-dup of vec 0 lands in the same k-means cell
    assert 1 in {r.corpus_id for r in rows}


def test_embedding_dup_pairs(vectors):
    from littletable_spark.operators.dedup import embedding_dup_pairs

    t, _ = vectors
    pairs = {(r.id1, r.id2) for r in embedding_dup_pairs(t, "vec_id", "embedding", 0.99)}
    assert pairs == {(0, 1)}


def test_textops_fingerprint_and_quality(docs):
    from littletable_spark.operators.dedup import fingerprint_dedup
    from littletable_spark.operators.textops import quality_score, token_stats

    fp = fingerprint_dedup(docs, "text", "doc_id")
    assert len(fp) == 5
    ts = {r.doc_id: r for r in token_stats(docs, "text", "doc_id")}
    assert ts[0].n_tokens == 10
    assert ts[0].n_distinct_tokens == 9  # 'the' twice
    # BPE-ish piece count matches a pure-Python evaluation of the pattern
    import re as _re

    from littletable_spark.operators.textops import BPE_TOKEN_RE

    for i, s in DOCS:
        assert ts[i].n_bpe_tokens == len(_re.findall(BPE_TOKEN_RE, s)), i
    q = {r.doc_id: r for r in quality_score(docs, "text", "doc_id")}
    assert 0.0 <= q[0].quality <= 1.0
    assert q[0].punct_ratio == 0.0


def test_langid(spark):
    from littletable_spark.operators.textops import lang_id

    t = Table("langs", spark=spark)
    t.insert_many(
        [
            {"doc_id": 0, "text": "the cat is in the house and it is warm"},
            {"doc_id": 1, "text": "der hund ist nicht mit der katze"},
            {"doc_id": 2, "text": "le chat est dans la maison pour toujours"},
            {"doc_id": 3, "text": "qwerty zxcvb asdfgh"},
        ]
    )
    out = {r.doc_id: r.pred_lang for r in lang_id(t, "text", "doc_id")}
    assert out == {0: "en", 1: "de", 2: "fr", 3: "unknown"}


def test_lang_id_scripts_and_new_markers(spark):
    """Round-11 widening: Unicode-script features identify unsegmented
    CJK and non-Latin scripts (no whitespace tokens needed); kana/
    Hangul outweigh shared Han so ja/ko beat zh on mixed text; the new
    Latin marker tables cover pt/it/nl/tr/pl."""
    from littletable_spark.operators.textops import lang_id

    t = Table("langs", spark=spark)
    t.insert_many(
        [
            {"doc_id": 0, "text": "这是一段没有空格的中文文本在这里"},
            {"doc_id": 1, "text": "これは日本語の文章です、漢字も含みます"},
            {"doc_id": 2, "text": "이것은 한국어 문장입니다 그리고 있는"},
            {"doc_id": 3, "text": "это текст на русском языке как всегда"},
            {"doc_id": 4, "text": "هذا نص باللغة العربية في من على"},
            {"doc_id": 5, "text": "यह हिंदी में एक पाठ है और"},
            {"doc_id": 6, "text": "você não vai gostar muito disso também"},
            {"doc_id": 7, "text": "questo non è anche per sono una cosa"},
            {"doc_id": 8, "text": "het is niet dat een voor maar ook"},
            {"doc_id": 9, "text": "bu bir şey için ve çok daha gibi"},
            {"doc_id": 10, "text": "to nie jest tak jak przez ale jego"},
        ]
    )
    out = {r.doc_id: r.pred_lang for r in lang_id(t, "text", "doc_id")}
    assert out == {
        0: "zh", 1: "ja", 2: "ko", 3: "ru", 4: "ar", 5: "hi",
        6: "pt", 7: "it", 8: "nl", 9: "tr", 10: "pl",
    }


# ---------------------------------------------------------------- clusters
def _brute_components(pairs):
    """Union-find ground truth: id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (3, 4)],  # chain
        [(1, 2), (3, 4), (5, 6), (2, 3)],  # merge two components
        [(10, 1), (10, 2), (10, 3), (20, 21)],  # star + separate pair
        [(7, 7)],  # self-loop
        [(5, 1), (4, 5), (3, 4), (2, 3), (9, 8), (8, 7), (1, 9)],  # long path, one comp
    ],
)
def test_dup_clusters_matches_union_find(spark, edges):
    from littletable_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    # driver union-find path (default) and the distributed min-label
    # loop (forced via driver_edges=0) must agree exactly
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == _brute_components(edges)
    dist = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(pairs, driver_edges=0).collect()
    }
    assert dist == _brute_components(edges)


def test_dup_clusters_empty(spark):
    from littletable_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([], "id1 long, id2 long")
    assert dup_clusters(pairs).count() == 0


def test_dup_clusters_converges_on_deep_chain(spark):
    """Pointer jumping: a 40-node path must converge well inside
    max_iter=25 (O(log diameter), not O(diameter))."""
    from littletable_spark.operators.dedup import dup_clusters

    edges = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(pairs, max_iter=10, driver_edges=0).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_keep_canonical(spark, docs):
    from littletable_spark.operators.dedup import keep_canonical, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=8, band_size=2).df
    kept = keep_canonical(docs, pairs, "doc_id")
    kept_ids = {r.doc_id for r in kept}
    pair_rows = [(r.id1, r.id2) for r in pairs.collect()]
    comp = _brute_components(pair_rows)
    expected = {i for i, _ in DOCS} - {x for x, root in comp.items() if root != x}
    assert kept_ids == expected


def test_topk_query_collect_is_bounded(spark):
    """An oversized query table raises a clear error instead of a silent
    driver-side OOM (the collect is capped, checked via limit(cap+1))."""
    from littletable_spark.operators.similarity import cosine_topk, ivf_topk

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(e, e, "vec_id", "embedding", k=2, max_queries=10)
    with pytest.raises(ValueError, match="max_queries"):
        ivf_topk(e, e, "vec_id", "embedding", k=2, max_queries=10)
    # within the cap everything still works
    q = e.where(vec_id=Table.lt(3))
    out = cosine_topk(e, q, "vec_id", "embedding", k=2, max_queries=10)
    assert len(out) == 6


def test_embedding_lsh_scorers_agree(spark):
    """Native-fold and Arrow-batch scorers produce the identical pair set."""
    from littletable_spark.operators.dedup import embedding_lsh_dup_pairs

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    nat = embedding_lsh_dup_pairs(e, "vec_id", "embedding", threshold=0.3)
    arw = embedding_lsh_dup_pairs(
        e, "vec_id", "embedding", threshold=0.3, use_arrow=True
    )
    n = sorted((r.id1, r.id2, r.cosine) for r in nat)
    a = sorted((r.id1, r.id2, r.cosine) for r in arw)
    assert n == a


def test_dup_clusters_string_ids_both_engines(spark):
    """Non-integer id columns work and return the SAME schema from the
    driver union-find shortcut and the distributed loop (round-5 fix:
    the driver path used to int()-coerce and hardcode long types)."""
    from littletable_spark.operators.dedup import dup_clusters

    edges = [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("doc-x", "doc-y")]
    pairs = spark.createDataFrame(edges, "id1 string, id2 string")
    driver = dup_clusters(pairs)  # under driver_edges -> union-find
    dist = dup_clusters(pairs, driver_edges=0)  # distributed loop
    assert driver.schema == dist.schema
    assert [f.dataType.simpleString() for f in driver.schema.fields] == [
        "string",
        "string",
    ]
    expect = {
        "doc-a": "doc-a",
        "doc-b": "doc-a",
        "doc-c": "doc-a",
        "doc-x": "doc-x",
        "doc-y": "doc-x",
    }
    assert {r.doc_id: r.cluster_id for r in driver.collect()} == expect
    assert {r.doc_id: r.cluster_id for r in dist.collect()} == expect


def test_ivf_training_sample_is_hash_ordered(spark):
    """The quantizer trains on an md5-hash-ordered sample, not an
    id-prefix — id locality in sharded corpora must not bias training
    (round-5 fix). Deterministic: same hash order as sampling.py."""
    import hashlib

    from littletable_spark.operators.similarity import _training_sample

    t = Table("ivfsamp", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(i), 1.0]} for i in range(50)]
    )
    _, ids = _training_sample(t.df, "vec_id", "embedding", 10)
    expect = sorted(range(50), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:10]
    assert ids == expect
    assert ids != sorted(ids)  # genuinely not id-prefix order


def test_lsh_topk_signature_is_native(spark):
    """lsh_topk builds signatures with the JVM lsh_signature fold; the
    only Python/Arrow stage left is the BLAS re-rank — exactly one
    MapInPandas node in the whole plan (round-5: VERDICT r4 #4)."""
    from littletable_spark.operators.similarity import lsh_topk

    t = Table("lshplan", spark=spark)
    t.insert_many(
        [
            {"vec_id": i, "embedding": [float((i * 7 + j) % 5) for j in range(8)]}
            for i in range(30)
        ]
    )
    q = t.where(vec_id=Table.lt(3))
    out = lsh_topk(t, q, "vec_id", "embedding", k=5, n_planes=4, dim=8)
    plan = out.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # and it still returns ranked neighbors
    assert out.df.count() > 0


def test_embedding_lsh_multiprobe_matches_numpy_reference(spark):
    """probe_bits=1 finds exactly the pairs whose signatures differ in
    <= 1 bit and whose cosine clears the threshold (numpy reference),
    is a superset of the probe_bits=0 pair set, and contains no
    duplicate pairs (each pair matches on at most one probe)."""
    import numpy as np

    from littletable_spark.operators.dedup import embedding_lsh_dup_pairs
    from littletable_spark.operators.similarity import _planes

    rng = np.random.RandomState(7)
    n, dim, n_planes, thr = 120, 16, 5, 0.5
    V = rng.randn(n, dim)
    t = Table("mp", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(x) for x in V[i]]} for i in range(n)]
    )

    planes = _planes(dim, n_planes, 42)
    sigs = (V @ planes.T) >= 0
    norms = np.linalg.norm(V, axis=1)
    cos = np.round((V @ V.T) / np.outer(norms, norms), 6)

    def expect(max_hamming):
        out = set()
        for i in range(n):
            for j in range(i + 1, n):
                if (sigs[i] != sigs[j]).sum() <= max_hamming and cos[i, j] >= thr:
                    out.add((i, j))
        return out

    base = embedding_lsh_dup_pairs(
        t, "vec_id", "embedding", threshold=thr, n_planes=n_planes, dim=dim
    ).df.collect()
    probed = embedding_lsh_dup_pairs(
        t, "vec_id", "embedding", threshold=thr, n_planes=n_planes, dim=dim,
        probe_bits=1,
    ).df.collect()
    base_pairs = {(r.id1, r.id2) for r in base}
    probed_list = [(r.id1, r.id2) for r in probed]
    probed_pairs = set(probed_list)
    assert len(probed_list) == len(probed_pairs)  # no duplicate candidates
    assert base_pairs == expect(0)
    assert probed_pairs == expect(1)
    assert base_pairs <= probed_pairs

    import pytest as _pytest

    with _pytest.raises(ValueError):
        embedding_lsh_dup_pairs(
            t, "vec_id", "embedding", threshold=thr, n_planes=n_planes,
            dim=dim, probe_bits=2,
        )


def test_keep_canonical_score_col_keeps_best(spark):
    """Quality-aware canonical selection: the highest-scoring member of
    each cluster survives (ties -> min id), singletons untouched."""
    from littletable_spark.operators.dedup import keep_canonical

    t = Table("kc", spark=spark)
    t.insert_many(
        [
            {"doc_id": 1, "q": 0.2},
            {"doc_id": 2, "q": 0.9},   # cluster {1,2,3}: best
            {"doc_id": 3, "q": 0.9},   # tie -> 2 wins (min id)
            {"doc_id": 7, "q": 0.1},   # cluster {7,8}
            {"doc_id": 8, "q": 0.5},   # best
            {"doc_id": 9, "q": 0.0},   # singleton
        ]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id1 long, id2 long"
    )
    kept = sorted(
        r.doc_id
        for r in keep_canonical(t, pairs, "doc_id", score_col="q")
    )
    assert kept == [2, 8, 9]
    # default min-id policy unchanged
    kept_min = sorted(r.doc_id for r in keep_canonical(t, pairs, "doc_id"))
    assert kept_min == [1, 7, 9]
    # ascending keeps the LOWEST score
    kept_asc = sorted(
        r.doc_id
        for r in keep_canonical(
            t, pairs, "doc_id", score_col="q", descending=False
        )
    )
    assert kept_asc == [1, 7, 9]


def test_jaccard_adaptive_decision_engages_on_hot_shingle_skew(spark):
    """The adaptive prefix-filter stat (sum f² = the self-join's output
    cardinality) must engage the prefix path on a hot-shingle corpus
    (every doc shares one shingle -> est pairs ~ N²) and must NOT
    engage on a disjoint-shingle corpus — pinning both sides of the
    64x-rows threshold. Results are identical either way (the
    exactness-preservation property, asserted again here on the skewed
    corpus)."""
    from littletable_spark.operators import dedup as D

    # threshold arithmetic: k=4 shingles/doc, one shared by all N docs
    # -> sum f² ≈ N² + 3N vs 64·rows = 64·4N, so the prefix path
    # engages once N > ~256. N=400 sits clearly past the crossover.
    hot = "common shared shingle"
    skew = Table("skew", spark=spark)
    skew.insert_many(
        [
            {"doc_id": i, "text": f"{hot} unique{i} filler{i} tail{i}"}
            for i in range(400)
        ]
    )
    D._ADAPTIVE_DECISIONS.clear()
    out_adaptive = {
        (r.id1, r.id2)
        for r in D.ngram_jaccard_pairs(skew, "doc_id", "text", threshold=0.5)
    }
    assert D._ADAPTIVE_DECISIONS and all(
        v is True or v == True  # noqa: E712
        for v in D._ADAPTIVE_DECISIONS.values()
    ), "hot-shingle corpus must engage the prefix path"
    out_plain = {
        (r.id1, r.id2)
        for r in D.ngram_jaccard_pairs(
            skew, "doc_id", "text", threshold=0.5, prefix_filter=False
        )
    }
    assert out_adaptive == out_plain

    flat = Table("flat", spark=spark)
    flat.insert_many(
        [
            {"doc_id": i, "text": f"a{i} b{i} c{i} d{i} e{i} f{i}"}
            for i in range(40)
        ]
    )
    D._ADAPTIVE_DECISIONS.clear()
    D.ngram_jaccard_pairs(flat, "doc_id", "text", threshold=0.5)
    assert D._ADAPTIVE_DECISIONS and all(
        v is False or v == False  # noqa: E712
        for v in D._ADAPTIVE_DECISIONS.values()
    ), "disjoint-shingle corpus must take the plain self-join"
    D._ADAPTIVE_DECISIONS.clear()


def test_minhash_incremental_against_corpus(spark, docs):
    """against= gives the new-batch-vs-corpus shape: same candidate
    semantics as the self-join restricted to cross-side pairs."""
    from littletable_spark.operators.dedup import minhash_lsh_pairs

    new = Table("new", spark=spark)
    new.insert_many(
        [
            {"doc_id": 100, "text": DOCS[0][1]},          # dup of corpus 0/1
            {"doc_id": 101, "text": "wholly novel content nothing matches"},
        ]
    )
    inc = sorted(
        (r["id1"], r["id2"])
        for r in minhash_lsh_pairs(new, "doc_id", "text", against=docs)
        .df.collect()
    )
    assert all(i1 in (100, 101) for i1, _ in inc)
    hits = {i2 for i1, i2 in inc if i1 == 100}
    assert {0, 1} <= hits          # the exact dups are found
    assert not any(i1 == 101 for i1, _ in inc)  # novel doc matches nothing
    # cross-side pairs agree with a combined self-join filtered to
    # (new, corpus) pairs
    both = Table("both", spark=spark)
    both.insert_many(
        [{"doc_id": i, "text": s} for i, s in DOCS]
        + [{"doc_id": 100, "text": DOCS[0][1]},
           {"doc_id": 101, "text": "wholly novel content nothing matches"}]
    )
    full = sorted(
        (max(r["id1"], r["id2"]), min(r["id1"], r["id2"]))
        for r in minhash_lsh_pairs(both, "doc_id", "text").df.collect()
        if (r["id1"] >= 100) != (r["id2"] >= 100)
    )
    assert sorted((i1, i2) for i1, i2 in inc) == full


def test_embedding_lsh_incremental_against_corpus(spark):
    """against= on embedding LSH: cross-side candidates equal the
    combined self-join restricted to cross pairs, incl. multiprobe."""
    import random

    from littletable_spark.operators.dedup import embedding_lsh_dup_pairs

    rng = random.Random(7)

    def vec(base=None, jitter=0.0):
        if base is None:
            return [rng.uniform(-1, 1) for _ in range(8)]
        return [x + rng.uniform(-jitter, jitter) for x in base]

    corpus_rows = [{"vec_id": i, "embedding": vec()} for i in range(40)]
    new_rows = [
        {"vec_id": 100, "embedding": vec(corpus_rows[0]["embedding"], 0.01)},
        {"vec_id": 101, "embedding": vec()},
    ]
    corpus = Table("corpus", spark=spark); corpus.insert_many(corpus_rows)
    new = Table("new", spark=spark); new.insert_many(new_rows)
    both = Table("both", spark=spark); both.insert_many(corpus_rows + new_rows)
    for pb in (0, 1):
        inc = sorted(
            (r["id1"], r["id2"], r["cosine"])
            for r in embedding_lsh_dup_pairs(
                new, "vec_id", "embedding", threshold=0.5, n_planes=4,
                dim=8, probe_bits=pb, against=corpus,
            ).df.collect()
        )
        assert all(i1 in (100, 101) for i1, _, _ in inc)
        full = sorted(
            (max(r["id1"], r["id2"]), min(r["id1"], r["id2"]), r["cosine"])
            for r in embedding_lsh_dup_pairs(
                both, "vec_id", "embedding", threshold=0.5, n_planes=4,
                dim=8, probe_bits=pb,
            ).df.collect()
            if (r["id1"] >= 100) != (r["id2"] >= 100)
        )
        assert inc == full, f"probe_bits={pb}"
        assert any(i1 == 100 and i2 == 0 for i1, i2, _ in inc)  # the planted dup


def test_minhash_prebuilt_band_table_round_trip(spark, tmp_path):
    """The corpus band table is a durable asset: probing a new batch
    against the prebuilt (and parquet-round-tripped) index must equal
    probing against the raw corpus docs."""
    from littletable_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )

    d = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    new = Table.from_df(d.df.where("doc_id % 10 = 0"))
    corpus = Table.from_df(d.df.where("doc_id % 10 != 0"))
    expect = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(new, "doc_id", "text", against=corpus)
    }
    bands = minhash_band_table(corpus, "doc_id", "text")
    got_live = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(new, "doc_id", "text", against_bands=bands)
    }
    assert got_live == expect
    # durable round trip: export the index, re-import, probe again
    p = str(tmp_path / "bands")
    bands.parquet_export(p)
    reloaded = Table.parquet_import(spark, p)
    got_stored = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(new, "doc_id", "text", against_bands=reloaded)
    }
    assert got_stored == expect
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        minhash_lsh_pairs(
            new, "doc_id", "text", against=corpus, against_bands=bands
        )
    with _pytest.raises(ValueError, match="must have columns"):
        minhash_lsh_pairs(new, "doc_id", "text", against_bands=new)


def test_embedding_prebuilt_signature_table_round_trip(spark, tmp_path):
    """Same durable-asset contract for the hyperplane index, including
    the multiprobe path (only the new side probes)."""
    from littletable_spark.operators.dedup import (
        embedding_lsh_dup_pairs,
        embedding_signature_table,
    )

    e = Table.parquet_import(spark, "/root/testdata/sf0.001/embeddings.parquet")
    new = Table.from_df(e.df.where("vec_id % 10 = 0"))
    corpus = Table.from_df(e.df.where("vec_id % 10 != 0"))
    sigs = embedding_signature_table(corpus, "vec_id", "embedding")
    p = str(tmp_path / "sigs")
    sigs.parquet_export(p)
    reloaded = Table.parquet_import(spark, p)
    for pb in (0, 1):
        expect = {
            (r.id1, r.id2): r.cosine
            for r in embedding_lsh_dup_pairs(
                new, "vec_id", "embedding", threshold=0.3,
                against=corpus, probe_bits=pb,
            )
        }
        got = {
            (r.id1, r.id2): r.cosine
            for r in embedding_lsh_dup_pairs(
                new, "vec_id", "embedding", threshold=0.3,
                against_sigs=reloaded, probe_bits=pb,
            )
        }
        assert got == expect and expect


def test_ivf_index_search_matches_self_mode(vectors):
    """against_index= with an index built at the same (nlist, sample,
    seed) reproduces self-mode ivf_topk exactly — same centroids, same
    assignment, same probed candidates — at reduced nprobe too."""
    from littletable_spark.operators.similarity import (
        ivf_index_table,
        ivf_topk,
    )

    t, _ = vectors
    q = t.where(vec_id=Table.lt(2))
    idx = ivf_index_table(t, "vec_id", "embedding", nlist=4, seed=3)
    for nprobe in (2, 4):
        expect = {
            (r.query_id, r.corpus_id): (r.cosine, r.rank)
            for r in ivf_topk(
                t, q, "vec_id", "embedding", k=5, nlist=4, nprobe=nprobe, seed=3
            )
        }
        got = {
            (r.query_id, r.corpus_id): (r.cosine, r.rank)
            for r in ivf_topk(
                t, q, "vec_id", "embedding", k=5, nprobe=nprobe,
                against_index=idx,
            )
        }
        assert got == expect and expect


def test_ivf_index_parquet_partition_pruning(vectors, tmp_path):
    """a cluster-partitioned stored index: search results survive the
    round trip, and the probe scan carries the static cluster IN
    predicate as a PartitionFilter — the nprobe/nlist read fraction."""
    import contextlib
    import io

    from littletable_spark.operators.similarity import (
        ivf_index_table,
        ivf_topk,
    )

    t, _ = vectors
    q = t.where(vec_id=0)
    idx = ivf_index_table(t, "vec_id", "embedding", nlist=4, seed=3)
    p = str(tmp_path / "ivf")
    idx.df.write.partitionBy("cluster").parquet(p)
    stored = Table.parquet_import(t.spark, p)
    expect = {
        (r.corpus_id, r.cosine, r.rank)
        for r in ivf_topk(
            t, q, "vec_id", "embedding", k=7, nprobe=1, against_index=idx
        )
    }
    out = ivf_topk(
        t, q, "vec_id", "embedding", k=7, nprobe=1, against_index=stored
    )
    got = {(r.corpus_id, r.cosine, r.rank) for r in out}
    assert got == expect and got
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cluster" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_extend_ivf_index_equals_frozen_whole_build(spark):
    """indexing batch B against index(A)'s frozen model == building the
    whole A∪B index under the same frozen centroids — the zero-training
    nightly-ingest invariant."""
    import numpy as np

    from littletable_spark.operators.similarity import (
        extend_ivf_index,
        ivf_index_table,
    )

    rng = np.random.RandomState(7)
    X = rng.randn(12, 8)

    def mk(ids):
        t = Table(f"vx{ids[0]}", spark=spark)
        t.insert_many(
            [{"vec_id": i, "embedding": [float(x) for x in X[i]]} for i in ids]
        )
        return t

    a, b, both = mk(range(8)), mk(range(8, 12)), mk(range(12))
    idx_a = ivf_index_table(a, "vec_id", "embedding", nlist=3, seed=1)
    ext = extend_ivf_index(idx_a, b, "vec_id", "embedding")
    # frozen model: rebuild A∪B with idx_a's own centroids
    cents = np.array(
        sorted(
            (r.cluster, list(r.centroid))
            for r in idx_a
            if r.corpus_id is None
        ),
        dtype=object,
    )
    frozen = ivf_index_table(
        both, "vec_id", "embedding",
        centroids=np.array([c for _, c in cents], dtype=np.float64),
    )
    key = lambda t: sorted(  # noqa: E731
        (
            r.cluster,
            -1 if r.corpus_id is None else r.corpus_id,
            # model rows renormalize a unit vector (1-ulp drift); the
            # assignment rows must agree exactly, centroids to 1e-12
            tuple(round(x, 12) for x in (r.centroid or r.cvec or ())),
        )
        for r in t
    )
    assert key(ext) == key(frozen)


def test_ivf_index_validation(vectors):
    from littletable_spark.operators.similarity import ivf_topk

    t, _ = vectors
    q = t.where(vec_id=0)
    bogus = Table("notidx", spark=t.spark)
    bogus.insert_many([{"cluster": 0, "corpus_id": 1}])
    with pytest.raises(ValueError, match="not an ivf_index_table"):
        ivf_topk(t, q, "vec_id", "embedding", against_index=bogus)
    # right columns but no model rows
    nomodel = Table.from_df(
        t.spark.createDataFrame(
            [(0, 1, [1.0], None)],
            "cluster int, corpus_id long, cvec array<double>, "
            "centroid array<double>",
        ),
        name="nomod",
    )
    with pytest.raises(ValueError, match="no centroid model"):
        ivf_topk(t, q, "vec_id", "embedding", against_index=nomodel)
