"""Scale machinery: salted joins, bucketed co-located joins, raw-mode
search, typed callable summaries, comparator-on-missing-attr edge."""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from littletable_spark import Table, plan_shape


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    big = Table("big", spark=spark)
    # skewed: key 1 holds most rows
    big.insert_many([{"k": 1 if i % 10 else i, "v": i} for i in range(200)])
    dim = Table("dim", spark=spark)
    dim.insert_many([{"k": i, "label": f"L{i}"} for i in range(200)])
    plain = big.join(dim, **{"k": "k"})
    from littletable_spark.operators.joins import salted_join

    salted = salted_join(big, dim, "k", "k", salt=8)
    a = sorted((r.k, r.v, r.label) for r in plain)
    b = sorted((r.k, r.v, r.label) for r in salted)
    assert a == b


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from littletable_spark.operators.bucketing import (
        bucketed_join,
        read_bucketed,
        write_bucketed,
    )

    c = Table.parquet_import(spark, "/root/testdata/sf0.001/customer.parquet")
    o = Table.parquet_import(spark, "/root/testdata/sf0.001/orders.parquet")
    o2 = Table.from_df(o.df.withColumnRenamed("o_custkey", "c_custkey"))
    write_bucketed(c, "bt_cust", "c_custkey", n_buckets=4)
    write_bucketed(o2, "bt_ord", "c_custkey", n_buckets=4)
    j = bucketed_join(spark, "bt_cust", "bt_ord", "c_custkey", force_merge=True)
    plan = _plan(j.df)
    # co-located bucketed join: sort-merge with no Exchange (shuffle)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert len(j) == 1500
    assert len(read_bucketed(spark, "bt_cust")) == 150


def test_search_raw_mode(spark):
    t = Table("s", spark=spark)
    t.insert_many(
        [
            {"id": 0, "txt": "tables and chairs"},
            {"id": 1, "txt": "table lamp"},
        ]
    )
    t.create_search_index("txt", normalize=False)
    # raw mode: no plural folding -> 'table' only matches doc 1
    res = t.search.txt("table", as_table=False)
    assert [ns.id for ns, _ in res] == [1]
    # stopwords not removed in raw mode
    res2 = t.search.txt("and", as_table=False)
    assert [ns.id for ns, _ in res2] == [0]


def test_groupby_summaries_typed_callable(abc):
    g = abc.groupby_with_summaries(
        "a",
        spread=(lambda rows: max(r.b for r in rows) - min(r.b for r in rows), "long"),
    )
    vals = {r.a: r.spread for r in g}
    assert vals == {0: 2, 1: 2, 2: 2}


def test_where_comparator_on_missing_attr(abc):
    # comparator against a missing attribute evaluates over None -> False
    assert len(abc.where(zzz=Table.gt(1))) == 0
    assert len(abc.where(zzz=Table.is_null())) == 27


def test_exact_medians_iterative_narrowing_bounded_band(spark):
    """Distributed k-th selection: with a tiny band cap the bracket must
    iterate (count-only passes) and still reconstruct the exact
    interpolated median — the driver never collects more than the cap."""
    import statistics

    from pyspark.sql import functions as F

    from littletable_spark.operators.stats import _exact_medians

    df = spark.range(0, 20001).select(
        (F.col("id") * 7 % 20001).cast("double").alias("x"),
        (F.col("id") % 13).cast("double").alias("dup"),
    )
    cols = {"x": F.col("x"), "dup": F.col("dup")}
    counts = {"x": 20001, "dup": 20001}
    got = _exact_medians(df, cols, counts, band_limit=40, max_iters=6)
    xs = [float((i * 7) % 20001) for i in range(20001)]
    dups = [float(i % 13) for i in range(20001)]
    assert got["x"] == statistics.median(xs)
    assert got["dup"] == statistics.median(dups)


def test_chunk_documents_reconstruction(spark):
    """Non-overlapping chunks concatenate back to the token sequence."""
    from littletable_spark.operators.textops import chunk_documents

    t = Table("chdocs", spark=spark)
    words = " ".join(f"w{i}" for i in range(37))
    t.insert_many([{"doc_id": 1, "text": words}, {"doc_id": 2, "text": "a b"}])
    out = chunk_documents(t, "text", "doc_id", chunk_tokens=10, overlap=0)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens) for r in out)
    )
    d1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in d1] == [0, 1, 2, 3]
    assert [r[3] for r in d1] == [10, 10, 10, 7]
    assert " ".join(r[2] for r in d1) == words
    assert rows[-1] == (2, 0, "a b", 2)


def test_chunk_documents_overlap(spark):
    from littletable_spark.operators.textops import chunk_documents

    t = Table("chov", spark=spark)
    t.insert({"doc_id": 1, "text": "a b c d e f g h"})
    out = chunk_documents(t, "text", "doc_id", chunk_tokens=4, overlap=2)
    chunks = {r.chunk_id: r.chunk_text for r in out}
    assert chunks[0] == "a b c d" and chunks[1] == "c d e f" and chunks[2] == "e f g h"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(t, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_scrub_pii_redacts_and_counts(spark):
    from littletable_spark.operators.textops import scrub_pii

    t = Table("pii", spark=spark)
    t.insert_many(
        [
            {
                "doc_id": 1,
                "text": "mail bob@example.com or call +1 (555) 123-4567 now",
            },
            {"doc_id": 2, "text": "ssn 123-45-6789 from 192.168.0.1 ok"},
            {"doc_id": 3, "text": "clean text with no pii at all"},
        ]
    )
    out = {r.doc_id: r for r in scrub_pii(t, "text", "doc_id")}
    assert "<EMAIL>" in out[1].clean_text and "bob@" not in out[1].clean_text
    assert "<PHONE>" in out[1].clean_text
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert out[2].clean_text == "ssn <SSN> from <IP> ok"
    assert out[2].n_ssn == 1 and out[2].n_ip == 1
    assert out[3].clean_text == out[3].clean_text and out[3].n_email == 0
    assert "no pii" in out[3].clean_text


def test_repetition_score(spark):
    from littletable_spark.operators.textops import repetition_score

    t = Table("rep", spark=spark)
    t.insert_many(
        [
            # "x y z w v" repeated 3x: 15 tokens, 11 windows, first 5
            # distinct then cycling repeats
            {"doc_id": 1, "text": "x y z w v " * 3},
            {"doc_id": 2, "text": "all distinct words here never repeat once more"},
            {"doc_id": 3, "text": "too short"},
        ]
    )
    out = {r.doc_id: r for r in repetition_score(t, "text", "doc_id", n=5)}
    assert out[1].n_windows == 11 and out[1].n_distinct_windows == 5
    assert abs(out[1].dup_window_frac - 6 / 11) < 1e-12
    assert out[2].dup_window_frac == 0.0
    assert out[3].n_windows == 0 and out[3].dup_window_frac == 0.0


def test_chunk_documents_no_contained_trailing_chunk(spark):
    """A window start inside the previous chunk's overlap region emits a
    chunk fully contained in it — round-5 fix: starts stop at
    max(len - overlap, 1). 13 tokens / chunk 16 / overlap 4 used to
    produce a bogus second chunk of just token 13."""
    from littletable_spark.operators.textops import chunk_documents

    t = Table("chtail", spark=spark)
    t.insert_many(
        [
            {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(13))},
            # 17 tokens: second chunk carries a genuinely new token
            {"doc_id": 2, "text": " ".join(f"w{i}" for i in range(17))},
        ]
    )
    out = chunk_documents(t, "text", "doc_id", chunk_tokens=16, overlap=4)
    rows = sorted((r.doc_id, r.chunk_id, r.n_chunk_tokens) for r in out)
    assert rows == [(1, 0, 13), (2, 0, 16), (2, 1, 5)]
    # no chunk's token set is a subset of its predecessor's
    texts = {(r.doc_id, r.chunk_id): r.chunk_text.split() for r in out}
    assert not set(texts[(2, 1)]) <= set(texts[(2, 0)])


def test_scrub_pii_progressive_counts_no_double_count(spark):
    """An SSN also matches the looser phone pattern; with progressive
    counting (each category counted after earlier replacements) it is
    redacted as <SSN> and NOT also counted as a phone (round-5 fix)."""
    from littletable_spark.operators.textops import scrub_pii

    t = Table("piiprog", spark=spark)
    t.insert_many(
        [
            {"doc_id": 1, "text": "ssn 123-45-6789 and phone +1 (555) 123-4567"},
            {"doc_id": 2, "text": "only ssn 987-65-4321 here"},
        ]
    )
    out = {r.doc_id: r for r in scrub_pii(t, "text", "doc_id")}
    assert out[1].n_ssn == 1 and out[1].n_phone == 1
    assert out[2].n_ssn == 1 and out[2].n_phone == 0  # no double count
    assert "<SSN>" in out[2].clean_text and "<PHONE>" not in out[2].clean_text


def test_groupby_iter_materialize_limit_falls_back_lazy(spark):
    """Above materialize_limit the iterator warns and switches to the
    lazy path instead of collecting the table (round-5 OOM guard);
    results are identical either way."""
    import warnings

    t = Table("glim", spark=spark)
    t.insert_many([{"a": i % 2, "b": i} for i in range(10)])
    t.orderby("b")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = [
            (k, sorted(r.b for r in sub))
            for k, sub in t.groupby("a", sort=True, materialize_limit=5)
        ]
    assert any("materialize_limit" in str(x.message) for x in w)
    assert got == [(0, [0, 2, 4, 6, 8]), (1, [1, 3, 5, 7, 9])]
    # under the limit: no warning, same answer
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        got2 = [
            (k, sorted(r.b for r in sub))
            for k, sub in t.groupby("a", sort=True, materialize_limit=1000)
        ]
    assert not any("materialize_limit" in str(x.message) for x in w2)
    assert got2 == got


def test_pack_sequences_properties(spark):
    """Offset-binned sequence packing: every doc assigned exactly once;
    docs within a (shard, pack) are id-contiguous inside their shard;
    pack token totals never exceed budget + the overflow doc; offsets
    are the running position within the pack's budget window; and the
    assignment is stable under repartitioning (hash sharding, window
    cumsum — no partition-dependent state)."""
    from littletable_spark.operators.textops import pack_sequences

    t = Table("packdocs", spark=spark)
    rows = [
        {"doc_id": i, "text": " ".join(f"w{j}" for j in range((i * 37) % 90 + 1))}
        for i in range(120)
    ]
    t.insert_many(rows)
    out = pack_sequences(t, "text", "doc_id", budget_tokens=64, n_shards=4)
    got = sorted(
        ((r.doc_id, r.n_tokens, r.shard, r.pack, r.pack_offset) for r in out)
    )
    assert [g[0] for g in got] == list(range(120))  # exactly once each
    assert all(g[1] == (g[0] * 37) % 90 + 1 for g in got)

    # per-shard: packs increase monotonically with id; offset = start % budget
    from collections import defaultdict

    by_shard = defaultdict(list)
    for doc_id, n, shard, pack, off in got:
        by_shard[shard].append((doc_id, n, pack, off))
    max_doc = max(g[1] for g in got)
    for shard, docs in by_shard.items():
        cum = 0
        for doc_id, n, pack, off in docs:  # already id-ordered
            assert pack == cum // 64
            assert off == cum % 64
            cum += n
        # pack totals bounded by budget + one overflow doc
        tot = defaultdict(int)
        for _, n, pack, _ in docs:
            tot[pack] += n
        assert all(v < 64 + max_doc for v in tot.values())

    # re-shard stability: same assignment from a repartitioned input
    t2 = Table.from_df(t.df.repartition(7), name="packdocs2")
    out2 = pack_sequences(t2, "text", "doc_id", budget_tokens=64, n_shards=4)
    got2 = sorted(
        ((r.doc_id, r.n_tokens, r.shard, r.pack, r.pack_offset) for r in out2)
    )
    assert got2 == got

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_sequences(t, "text", "doc_id", budget_tokens=0)


def test_contamination_check_known_overlap(spark):
    """Constructed overlap: bench doc 1 is verbatim in the corpus (100%
    contaminated), doc 2 shares half its windows, doc 3 shares none.
    The corpus side must reach the scan as a broadcast semi filter —
    the corpus shingle set is never distinct-ed/shuffled wholesale."""
    from littletable_spark.operators.textops import contamination_check

    corpus = Table("ccorp", spark=spark)
    shared = " ".join(f"s{i}" for i in range(12))
    corpus.insert_many(
        [
            {"doc_id": 100, "text": shared},
            {"doc_id": 101, "text": "completely different corpus words here today"},
        ]
    )
    bench = Table("cbench", spark=spark)
    half = shared.split()[:8]  # windows over s0..s7 overlap; rest don't
    bench.insert_many(
        [
            {"doc_id": 1, "text": shared},
            {"doc_id": 2, "text": " ".join(half + [f"u{i}" for i in range(8)])},
            {"doc_id": 3, "text": "nothing in common with training data at all"},
        ]
    )
    out = contamination_check(corpus, bench, "doc_id", "doc_id", n=4)
    got = {r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination) for r in out}
    assert got[1] == (9, 9, 1.0)  # 12 tokens, 9 4-gram windows, all hit
    # doc 2: 16 tokens -> 13 windows; windows fully inside s0..s7 = 5 hits
    assert got[2] == (13, 5, 5 / 13)
    assert got[3][1] == 0 and got[3][2] == 0.0
    assert "BroadcastHashJoin" in plan_shape(out.df)
    # the join type is an argument of the join node: read it from the text
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_contamination_check_bench_cap(spark):
    """An over-cap bench side fails loudly (mis-sided call / corpus-
    scale 'bench' would otherwise OOM executors on the broadcast);
    raising the cap or passing None restores the run."""
    import pytest

    from littletable_spark.operators.textops import contamination_check

    corpus = Table("gcorp", spark=spark)
    corpus.insert_many([{"doc_id": 1, "text": "a b c d e f"}])
    bench = Table("gbench", spark=spark)
    bench.insert_many(
        [{"doc_id": i, "text": f"w{i} x{i} y{i} z{i}"} for i in range(10)]
    )
    with pytest.raises(ValueError, match="too large to broadcast"):
        contamination_check(
            corpus, bench, "doc_id", "doc_id", n=2, max_bench_ngrams=5
        )
    ok = contamination_check(
        corpus, bench, "doc_id", "doc_id", n=2, max_bench_ngrams=None
    )
    assert len(ok) == 10


def test_filter_quality_rules_and_audit_trail(spark):
    """Each Gopher rule fires on a constructed violator and names
    itself in failed_rules (fixed order); a clean doc keeps; custom
    bands override; unknown rule names fail loudly."""
    import pytest

    from littletable_spark.operators.textops import filter_quality

    good = " ".join(["the quick brown fox jumps over lazy dogs tonight"] * 8)
    docs = [
        {"doc_id": 1, "text": good},                       # passes all
        {"doc_id": 2, "text": "the of to is in"},          # too few tokens
        {"doc_id": 3, "text": " ".join(["the", "a b c d " * 20][:1] * 60)},
        {"doc_id": 4, "text": " ".join(["the##%%@@!!**"] * 60)},  # symbols
        {"doc_id": 5, "text": " ".join(["zqxj klmn vwpt"] * 30)},  # no stopwords
    ]
    t = Table("fq", spark=spark)
    t.insert_many(docs)
    out = {r.doc_id: r for r in filter_quality(t, "text", "doc_id")}
    assert out[1].keep and list(out[1].failed_rules) == []
    assert not out[2].keep and "n_tokens" in out[2].failed_rules
    assert not out[4].keep and "symbol_ratio" in out[4].failed_rules
    assert not out[5].keep and "stopword_ratio" in out[5].failed_rules
    # fixed audit order: any multi-failure lists rules in GOPHER order
    multi = [r for r in out.values() if len(r.failed_rules) > 1]
    from littletable_spark.operators.textops import GOPHER_RULES

    order = list(GOPHER_RULES)
    for r in multi:
        idxs = [order.index(x) for x in r.failed_rules]
        assert idxs == sorted(idxs)

    # custom band: min 3 tokens only
    loose = filter_quality(
        t, "text", "doc_id", rules={"n_tokens": (3.0, 1e9)}
    )
    assert all(r.keep for r in loose)

    with pytest.raises(ValueError, match="unknown quality rules"):
        filter_quality(t, "text", "doc_id", rules={"bogus": (0, 1)})


def test_filter_quality_matches_python_model(spark):
    """Hypothesis differential: signals and keep/failed_rules match a
    pure-Python model of the Gopher bands (guards the driver-gated
    text_filter_quality query against rule-arithmetic drift)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from littletable_spark.operators.textops import (
        GOPHER_RULES,
        STOPWORD_SAMPLE,
        filter_quality,
    )

    token = st.sampled_from(
        ["the", "and", "zqxj", "##%%", "word", "a", "supercalifragilistic"]
    )

    def model(text):
        toks = [t for t in text.strip().split() if t]
        n = len(toks)
        sig = {
            "n_tokens": float(n),
            "mean_token_len": (sum(len(t) for t in toks) / n) if n else None,
            "symbol_ratio": (
                sum(1 for ch in text if not (ch.isalnum() or ch.isspace()))
                / len(text)
            )
            if len(text)
            else None,
            "stopword_ratio": (
                sum(1 for t in toks if t.lower() in STOPWORD_SAMPLE) / n
            )
            if n
            else None,
        }
        failed = [
            name
            for name, (lo, hi) in GOPHER_RULES.items()
            if sig[name] is None or not (lo <= sig[name] <= hi)
        ]
        return sig, failed

    @given(
        texts=st.lists(
            st.lists(token, min_size=1, max_size=80).map(" ".join),
            min_size=1,
            max_size=5,
        )
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(texts):
        t = Table("fqd", spark=spark)
        t.insert_many([{"doc_id": i, "text": s} for i, s in enumerate(texts)])
        got = {r.doc_id: r for r in filter_quality(t, "text", "doc_id")}
        for i, s in enumerate(texts):
            sig, failed = model(s)
            r = got[i]
            assert list(r.failed_rules) == failed, (s, r.failed_rules, failed)
            assert r.keep == (not failed)
            assert abs(r.n_tokens - sig["n_tokens"]) < 1e-9
            if sig["mean_token_len"] is not None:
                assert abs(r.mean_token_len - sig["mean_token_len"]) < 1e-9
            if sig["symbol_ratio"] is not None:
                assert abs(r.symbol_ratio - sig["symbol_ratio"]) < 1e-9
            if sig["stopword_ratio"] is not None:
                assert abs(r.stopword_ratio - sig["stopword_ratio"]) < 1e-9

    check()
