"""unigram_logprob (LM-quality proxy) and tfidf_top_terms, cross-checked
against pure-Python models."""

import math

import pytest

from littletable_spark import Table
from littletable_spark.operators.textops import tfidf_top_terms, unigram_logprob

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "weird zyxwv qqqq tokens appear here"),
    (3, ""),
    (4, "the the the the"),
]


def _mk(spark, docs=DOCS):
    t = Table("docs", spark=spark)
    t.insert_many([{"doc_id": i, "text": s} for i, s in docs])
    return t


def _toks(s):
    return [w for w in (s or "").strip().split() if w]


def _model_logprob(score_docs, train_docs, alpha=0.5, vocab_size=None):
    freq = {}
    for _i, s in train_docs:
        for w in _toks(s):
            freq[w] = freq.get(w, 0) + 1
    n = float(sum(freq.values()))
    if vocab_size is not None:
        keep = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
        freq = dict(keep)
    out = {}
    for i, s in score_docs:
        t = _toks(s)
        if not t:
            continue
        lp = [math.log(freq.get(w, alpha) / n) for w in t]
        out[i] = (len(t), sum(lp) / len(lp))
    return out


def _model_tfidf(docs, k):
    tf = {}
    for i, s in docs:
        for w in _toks(s):
            tf[(i, w)] = tf.get((i, w), 0) + 1
    dfreq = {}
    for (_i, w), _c in tf.items():
        dfreq[w] = dfreq.get(w, 0) + 1
    d = float(len(docs))
    rows = []
    for i, _s in docs:
        terms = [
            (w, c, dfreq[w], c * math.log(d / dfreq[w]))
            for (j, w), c in tf.items()
            if j == i
        ]
        terms.sort(key=lambda t: (-t[3], t[0]))
        for rank, (w, c, df_, sc) in enumerate(terms[:k], start=1):
            rows.append((i, w, c, df_, round(sc, 9), rank))
    return sorted(rows)


def test_logprob_matches_model(spark):
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in unigram_logprob(_mk(spark), "text", "doc_id").df.collect()
    }
    want = _model_logprob(DOCS, DOCS)
    assert set(got) == set(want)  # empty doc 3 emits no row
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], rel=1e-9)
    # doc 4 is all high-frequency tokens -> best score; doc 2 is all
    # rare tokens -> worst (gibberish filtering works)
    scores = {i: v[1] for i, v in got.items()}
    assert scores[4] == max(scores.values())
    assert scores[2] == min(scores.values())


def test_logprob_vocab_cap_and_oov(spark):
    got = {
        r["doc_id"]: r["logprob_per_token"]
        for r in unigram_logprob(
            _mk(spark), "text", "doc_id", alpha=0.25, vocab_size=3
        ).df.collect()
    }
    want = _model_logprob(DOCS, DOCS, alpha=0.25, vocab_size=3)
    for i in want:
        assert got[i] == pytest.approx(want[i][1], rel=1e-9)


def test_logprob_train_score_split(spark):
    train = _mk(spark)
    new = [(100, "the cat sat"), (101, "zzz unseen everywhere")]
    score = _mk(spark, new)
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in unigram_logprob(
            score, "text", "doc_id", train_table=train
        ).df.collect()
    }
    want = _model_logprob(new, DOCS)
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], rel=1e-9)
    assert got[100][1] > got[101][1]  # in-vocab doc beats OOV doc


def test_tfidf_matches_model(spark):
    got = sorted(
        (
            r["doc_id"],
            r["term"],
            r["tf"],
            r["df"],
            round(r["tfidf"], 9),
            r["term_rank"],
        )
        for r in tfidf_top_terms(_mk(spark), "text", "doc_id", k=3).df.collect()
    )
    assert got == _model_tfidf(DOCS, k=3)


def test_tfidf_rank_is_total_and_k_bounds(spark):
    out = tfidf_top_terms(_mk(spark), "text", "doc_id", k=2).df.collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["term_rank"])
    for i, ranks in per_doc.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2
    # near-ubiquitous "the" has the lowest idf -> not a top-2 term here
    terms0 = {r["term"] for r in out if r["doc_id"] == 0}
    assert "the" not in terms0


def test_bm25_topk_matches_model_and_is_length_normalized(spark):
    import math

    from littletable_spark.operators.textops import bm25_topk

    docs = [
        (0, "spark engine spark plan"),
        (1, "spark " + "filler " * 40 + "end"),   # same hits, much longer
        (2, "unrelated words entirely different"),
        (3, "spark"),
    ]
    t = _mk(spark, docs)
    got = [(r["doc_id"], r["score"], r["rank"])
           for r in bm25_topk(t, "text", "doc_id", "spark engine", k=4)
           .df.collect()]
    # pure-python BM25
    toks = {i: _toks(s) for i, s in docs}
    D = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / D
    terms = ["spark", "engine"]
    dfreq = {w: float(sum(1 for v in toks.values() if w in v)) for w in terms}
    want = []
    for i, tkns in toks.items():
        sc = 0.0
        for w in terms:
            tf = float(tkns.count(w))
            if not tf:
                continue
            idf = math.log(1 + (D - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
            sc += idf * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * len(tkns) / avgdl))
        if sc:
            want.append((i, round(sc, 6)))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = [(i, s, r + 1) for r, (i, s) in enumerate(want)]
    assert sorted(got) == sorted(want)
    ranks = {i: r for i, _s, r in got}
    assert ranks[0] == 1            # two distinct hits, short doc
    assert ranks[3] < ranks[1]      # length normalization: short beats long


def test_bm25_empty_query_raises(spark):
    from littletable_spark.operators.textops import bm25_topk

    with pytest.raises(ValueError):
        bm25_topk(_mk(spark), "text", "doc_id", "   ")


# ---------------------------------------------------------------- #
# durable corpus statistics (term_stats_table + against_stats=)    #
# ---------------------------------------------------------------- #


def test_term_stats_table_shape_and_scalars(spark):
    from littletable_spark.operators.textops import term_stats_table

    t = _mk(spark)
    stats = term_stats_table(t, "text", "doc_id")
    rows = list(stats)
    scalar = [r for r in rows if r.term is None]
    vocab = {r.term: r.df for r in rows if r.term is not None}
    assert len(scalar) == 1
    assert scalar[0].n_docs == 5
    # total tokens: 6 + 6 + 6 + 0 + 4
    assert scalar[0].total_tokens == 22
    assert vocab["the"] == 3  # docs 0, 1, 4
    assert vocab["sat"] == 2
    assert vocab["zyxwv"] == 1


def test_tfidf_against_stats_equals_self_mode(spark):
    """cross-side equivalence: stats built from the same corpus give
    bit-identical self-mode results (the stored-index contract)."""
    from littletable_spark.operators.textops import term_stats_table

    t = _mk(spark)
    stats = term_stats_table(t, "text", "doc_id")
    a = sorted(
        (r.doc_id, r.term, r.tf, r.df, round(r.tfidf, 9), r.term_rank)
        for r in tfidf_top_terms(t, "text", "doc_id", k=3)
    )
    b = sorted(
        (r.doc_id, r.term, r.tf, r.df, round(r.tfidf, 9), r.term_rank)
        for r in tfidf_top_terms(t, "text", "doc_id", k=3, against_stats=stats)
    )
    assert a == b


def test_retrieval_against_stats_parquet_roundtrip(spark, tmp_path):
    """the asset survives parquet export/re-import (the actual durable
    usage), for both tf-idf and BM25, on a disjoint probe batch."""
    from littletable_spark.operators.textops import (
        bm25_topk,
        term_stats_table,
    )

    corpus = _mk(spark)
    p = str(tmp_path / "stats.parquet")
    term_stats_table(corpus, "text", "doc_id").df.write.parquet(p)
    stored = Table.parquet_import(spark, p)
    batch = Table("batch", spark=spark)
    batch.insert_many(
        [
            {"doc_id": 100, "text": "the cat and the dog"},
            {"doc_id": 101, "text": "zyxwv zyxwv unrelated"},
        ]
    )
    # tf-idf: df values come from the CORPUS, not the batch
    out = {
        (r.doc_id, r.term): r.df
        for r in tfidf_top_terms(batch, "text", "doc_id", k=5, against_stats=stored)
    }
    assert out[(100, "the")] == 3
    assert out[(100, "and")] == 0  # unseen in corpus -> df 0, idf ln(D/1)
    assert out[(101, "zyxwv")] == 1
    # bm25: D/avgdl/df from stats; batch doc containing the rare corpus
    # term outranks the common-term doc for a rare-term query
    top = list(bm25_topk(batch, "text", "doc_id", "zyxwv", k=2, against_stats=stored))
    assert top[0].doc_id == 101 and top[0].rank == 1


def test_bm25_against_stats_equals_self_mode(spark):
    from littletable_spark.operators.textops import (
        bm25_topk,
        term_stats_table,
    )

    t = _mk(spark)
    stats = term_stats_table(t, "text", "doc_id")
    a = [(r.doc_id, r.score, r.rank) for r in bm25_topk(t, "text", "doc_id", "cat sat", k=5)]
    b = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_topk(t, "text", "doc_id", "cat sat", k=5, against_stats=stats)
    ]
    assert a == b


def test_against_stats_validation(spark):
    from littletable_spark.operators.textops import bm25_topk, tfidf_top_terms

    t = _mk(spark)
    bogus = Table("bogus", spark=spark)
    bogus.insert_many([{"term": "x", "df": 1}])  # missing scalar columns
    with pytest.raises(ValueError, match="missing column"):
        tfidf_top_terms(t, "text", "doc_id", against_stats=bogus)
    noscalar = Table("noscalar", spark=spark)
    noscalar.insert_many(
        [{"term": "x", "df": 1, "n_docs": 0, "total_tokens": 0}]
    )  # no term-IS-NULL scalar row
    with pytest.raises(ValueError, match="corpus-scalar"):
        bm25_topk(t, "text", "doc_id", "x", against_stats=noscalar)


def test_fold_term_stats_equals_whole_corpus_build(spark):
    """folding per-batch stats over disjoint doc sets reproduces the
    single-build stats of the union corpus exactly — the invariant
    that makes the ingest sink's stats_path maintenance sound."""
    from littletable_spark.operators.textops import (
        fold_term_stats,
        term_stats_table,
    )

    half_a = _mk(spark, DOCS[:3])
    half_b = _mk(spark, DOCS[3:])
    whole = _mk(spark)
    parts = term_stats_table(half_a, "text", "doc_id").df.unionByName(
        term_stats_table(half_b, "text", "doc_id").df
    )
    folded = fold_term_stats(Table.from_df(parts))
    keyf = lambda t: sorted(  # noqa: E731
        (r.term or "", r.df or -1, r.n_docs or -1, r.total_tokens or -1)
        for r in t
    )
    want = keyf(term_stats_table(whole, "text", "doc_id"))
    got = keyf(folded)
    assert got == want


def test_fold_term_stats_validation(spark):
    from littletable_spark.operators.textops import fold_term_stats

    bogus = Table("fbogus", spark=spark)
    bogus.insert_many([{"term": "x"}])
    with pytest.raises(ValueError, match="missing column"):
        fold_term_stats(bogus)


def test_ingest_stats_path_maintains_retrieval_asset(spark, tmp_path):
    """the sink's stats_path stage: folded per-batch stats equal a
    fresh term_stats_table of the written corpus, and retrieval
    against them matches self-mode on that corpus; redelivery keeps
    the fold stable."""
    from littletable_spark.operators.textops import (
        bm25_topk,
        fold_term_stats,
        term_stats_table,
    )
    from littletable_spark.streaming.ingest import ingest_batch

    root = str(tmp_path)
    corpus, bands, stats_p = f"{root}/c", f"{root}/b", f"{root}/s"

    def batch(rows):
        t = Table("sb", spark=spark)
        t.insert_many([{"doc_id": i, "text": s} for i, s in rows])
        return t.df.select("doc_id", "text")

    b1 = [(3, "the dog sat on the log"), (4, "weird zyxwv qqqq tokens")]
    ingest_batch(batch([(1, "the cat sat on the mat"), (2, "a b c d e f g h")]),
                 0, corpus, bands, stats_path=stats_p)
    ingest_batch(batch(b1), 1, corpus, bands, stats_path=stats_p)

    folded = fold_term_stats(Table.parquet_import(spark, stats_p))
    written = Table.from_df(
        spark.read.parquet(corpus).select("doc_id", "text")
    )
    fresh = term_stats_table(written, "text", "doc_id")
    key = lambda t: sorted(  # noqa: E731
        (r.term or "", r.df or -1, r.n_docs or -1, r.total_tokens or -1)
        for r in t
    )
    # materialize once: the redelivery below rewrites the corpus
    # files, after which re-executing fresh's plan would hit a stale
    # file listing
    fresh_key = key(fresh)
    assert key(folded) == fresh_key

    a = [(r.doc_id, r.score) for r in bm25_topk(written, "text", "doc_id", "the sat", k=4)]
    b = [
        (r.doc_id, r.score)
        for r in bm25_topk(written, "text", "doc_id", "the sat", k=4, against_stats=folded)
    ]
    assert a == b

    ingest_batch(batch(b1), 1, corpus, bands, stats_path=stats_p)  # redelivery
    refolded = fold_term_stats(Table.parquet_import(spark, stats_p))
    assert key(refolded) == fresh_key


# ------------------------------------------------------------------ #
# round-14 narrow rewrites: _ngram_rows options, doc_fingerprint,    #
# term_stats_table marker-row aggregation                            #
# ------------------------------------------------------------------ #


def test_ngram_rows_per_doc_distinct_matches_distinct(spark):
    """per_doc_distinct=True (in-row array_distinct) must emit exactly
    the rows `.distinct()` over (id, gram) would — the equivalence the
    contamination/stats rewrites rely on."""
    from littletable_spark.operators.dedup import _ngram_rows

    docs = [
        (0, "a b a b a b c"),          # repeated grams within the doc
        (1, "a b a b a b c"),          # identical text, different id
        (2, "x y"),                    # short doc: one gram of all tokens
        (3, ""),                       # empty: no rows
        (4, None),                     # null: no rows
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    inrow = _ngram_rows(df, "doc_id", "text", 3, per_doc_distinct=True)
    shuffled = _ngram_rows(df, "doc_id", "text", 3).distinct()
    key = lambda d: sorted((r.doc_id, r.s) for r in d.collect())  # noqa: E731
    assert key(inrow) == key(shuffled)
    # multiplicity really was collapsed (doc 0 has dup 3-grams raw)
    raw = _ngram_rows(df, "doc_id", "text", 3)
    assert raw.count() > inrow.count()


def test_ngram_rows_keep_cols_carries_per_doc_values(spark):
    from littletable_spark.operators.dedup import _ngram_rows
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "p q r s"), (1, "u v")], "doc_id int, text string"
    ).withColumn("tag", F.concat(F.lit("t"), F.col("doc_id")))
    rows = _ngram_rows(df, "doc_id", "text", 2, keep_cols=("tag",)).collect()
    assert rows and all(r.tag == f"t{r.doc_id}" for r in rows)
    assert {(r.doc_id, r.s) for r in rows} == {
        (0, "p q"), (0, "q r"), (0, "r s"), (1, "u v"),
    }


def test_doc_fingerprint_matches_python_model(spark):
    """doc_fingerprint after the narrow rewrite (no window shuffle, no
    join-back): normalized md5 + min 4-gram window md5, incl. the
    short-doc (one window of all tokens) and empty/null (no row)
    cases."""
    import hashlib
    import re

    from littletable_spark.operators.textops import doc_fingerprint

    docs = [
        (0, "The  quick Brown fox jumps over the lazy dog"),
        (1, "one two three"),          # < 4 tokens: single window
        (2, ""),                       # no row
        (3, None),                     # no row
        (4, "dup dup dup dup dup"),    # duplicate windows
    ]
    t = Table("docs", spark=spark)
    t.insert_many([{"doc_id": i, "text": s} for i, s in docs])
    got = sorted(
        (r.doc_id, r.fingerprint, r.min_window_hash)
        for r in doc_fingerprint(t, "text", "doc_id")
    )

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    want = []
    for i, s in docs:
        toks = [w for w in re.split(r"\s+", (s or "").lower().strip()) if w]
        if not toks:
            continue
        fp = md5(re.sub(r"\s+", " ", (s or "").lower().strip()))
        if len(toks) < 4:
            wins = [" ".join(toks)]
        else:
            wins = [" ".join(toks[j : j + 4]) for j in range(len(toks) - 3)]
        want.append((i, fp, min(md5(w) for w in wins)))
    assert got == sorted(want)


def test_term_stats_counts_empty_and_null_docs(spark):
    """the marker-row aggregation must still count token-less documents
    in n_docs (they produce no vocab rows but ARE documents)."""
    from littletable_spark.operators.textops import term_stats_table

    t = Table("docs", spark=spark)
    t.insert_many(
        [
            {"doc_id": 0, "text": "alpha beta alpha"},
            {"doc_id": 1, "text": ""},
            {"doc_id": 2, "text": None},
            {"doc_id": 3, "text": "   "},
        ]
    )
    rows = {(r.term or ""): r for r in term_stats_table(t, "text", "doc_id")}
    scalar = rows[""]
    assert scalar.n_docs == 4 and scalar.total_tokens == 3
    assert rows["alpha"].df == 1 and rows["beta"].df == 1
    assert set(rows) == {"", "alpha", "beta"}


def test_model_caches_stable_across_repeated_scoring_calls(spark):
    """guide §5 hygiene: the model frames the scoring operators persist
    (unigram freq, bigram uni+big models, tfidf (doc,term) aggregate)
    are owned by the engine's per-operator registry — repeated calls
    must not accumulate cache entries, and a changed corpus must release
    the previous corpus's caches."""
    from littletable_spark.operators.textops import bigram_logprob
    from littletable_spark.session import _KEPT

    ops = ("unigram_logprob", "bigram_logprob", "tfidf_top_terms")

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    t = _mk(spark)

    def run_all(tbl):
        unigram_logprob(tbl, "text", "doc_id").df.collect()
        bigram_logprob(tbl, "text", "doc_id").df.collect()
        tfidf_top_terms(tbl, "text", "doc_id").df.collect()

    run_all(t)
    base = n_persistent()
    # identical repeated calls: same plans -> the one cache entry per
    # model is reused, never dropped-and-rebuilt, never duplicated
    run_all(t)
    run_all(t)
    assert n_persistent() == base
    # a different corpus evicts the old corpus's model caches: the
    # total persisted count stays flat instead of growing per corpus
    t2 = _mk(spark, [(10, "new corpus entirely"), (11, "other words here")])
    run_all(t2)
    assert n_persistent() <= base
    # registry holds exactly one cache set per operator
    assert set(_KEPT) >= set(ops)
    for op in ops:
        assert len(_KEPT[op]) <= 2
    # cleanup so later tests see a quiet cache
    for op in ops:
        for f in _KEPT.pop(op):
            f.unpersist()


def test_bigram_logprob_releases_tokenized_corpus_cache(spark):
    """the full tokenized-corpus frame must NOT outlive the builder —
    only the vocab-bounded model caches survive (guide §5)."""
    from littletable_spark.operators.textops import bigram_logprob
    from littletable_spark.session import _KEPT

    t = _mk(spark)
    out = bigram_logprob(t, "text", "doc_id")
    owned = {f.semanticHash() for f in _KEPT["bigram_logprob"]}
    assert len(owned) == 2  # uni + big models, not ttok
    out.df.collect()  # scoring works off the surviving model caches
    for f in _KEPT.pop("bigram_logprob"):
        f.unpersist()
