"""Property-based tests (hypothesis) — randomized equivalence between the
engine and in-memory Python over small generated tables. The reference
suite has none of these (SURVEY §5.6); they guard the ordered-bag and
filter semantics against edge inputs (negatives, duplicates, empty)."""

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from littletable_spark import Table

rows_strategy = st.lists(
    st.tuples(st.integers(-5, 5), st.integers(-5, 5)), min_size=0, max_size=12
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def make_table(spark, rows):
    t = Table("prop", spark=spark)
    if rows:
        t.insert_many([{"a": a, "b": b} for a, b in rows])
    return t


@given(rows=rows_strategy, lo=st.integers(-5, 5))
@SETTINGS
def test_where_matches_python_filter(spark, rows, lo):
    t = make_table(spark, rows)
    got = sorted((r.a, r.b) for r in t.where(a=Table.gt(lo)))
    expect = sorted((a, b) for a, b in rows if a > lo)
    assert got == expect


@given(rows=rows_strategy)
@SETTINGS
def test_orderby_matches_python_sorted(spark, rows):
    t = make_table(spark, rows)
    t.orderby("a, b desc")
    got = [(r.a, r.b) for r in t]
    expect = sorted(rows, key=lambda x: (x[0], -x[1]))
    assert got == expect


@given(rows=rows_strategy)
@SETTINGS
def test_unique_keep_first(spark, rows):
    t = make_table(spark, rows)
    got = [(r.a, r.b) for r in t.unique(key="a")]
    seen, expect = set(), []
    for a, b in rows:
        if a not in seen:
            seen.add(a)
            expect.append((a, b))
    assert sorted(got) == sorted(expect)


@given(rows=rows_strategy, n=st.integers(1, 5))
@SETTINGS
def test_head_slice_consistency(spark, rows, n):
    t = make_table(spark, rows)
    if not rows:
        pytest.skip("empty table has no schema")
    head = [(r.a, r.b) for r in t.head(n)]
    sliced = [(r.a, r.b) for r in t[0:n]]
    assert head == rows[:n]
    assert sliced == rows[:n]


# ---- positional parity: the ordered bag against a Python list -------- #
#
# Every dense position (rank, slices, del/pop/remove/index, batched,
# consecutive groupby) comes from a sort plus Spark's distributed
# sequence. The table spans >= 4 partitions and >= 2 insert epochs, with
# duplicate and None sort keys, so a numbering that followed partition
# layout instead of the total order would show up here.

_key = st.one_of(st.none(), st.integers(0, 3))
# a later epoch may hold only None keys (the column keeps the table's
# type); the first may not, since a new all-None column is typed string
epochs_strategy = st.lists(
    st.lists(st.tuples(_key, st.integers(-3, 3)), min_size=1, max_size=4),
    min_size=2,
    max_size=3,
).filter(lambda es: any(a is not None for a, _ in es[0]))
# each example runs tens of Spark jobs (the lazy groupby one per run)
PARITY = settings(SETTINGS, max_examples=4)


def _bag(spark, epochs, sort):
    """(table, the same rows as a Python list in table order)."""
    t = Table("bag", spark=spark)
    for rows in epochs:
        t.insert_many([{"a": a, "b": b} for a, b in rows])
    # spread the rows; their order is carried by __epoch__/__row_ord__
    t._mutate(t._require_df().repartition(4))
    assert t._require_df().rdd.getNumPartitions() >= 4
    rows = [r for e in epochs for r in e]
    if sort:
        t.orderby("a")  # ascending sorts NULL first, stably
        rows = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))
    return t, rows


def _ab(t):
    return [(r.a, r.b) for r in t]


_index = st.one_of(st.none(), st.integers(-20, 20))
_step = st.sampled_from([None, 1, 2, 3, -1, -2])


@given(epochs=epochs_strategy, sort=st.booleans(), i=_index, j=_index, k=_step)
@PARITY
def test_rank_and_slices_match_python_list(spark, epochs, sort, i, j, k):
    t, rows = _bag(spark, epochs, sort)
    ranked = [(r.a, r.b, r.r) for r in t.clone().rank("r")]
    assert ranked == [(a, b, n + 1) for n, (a, b) in enumerate(rows)]
    assert _ab(t[i:j:k]) == rows[i:j:k]
    assert _ab(t) == rows  # slicing leaves the table as it was


@given(epochs=epochs_strategy, sort=st.booleans(), i=_index, j=_index,
       k=_step, data=st.data())
@PARITY
def test_deletes_and_index_match_python_list(spark, epochs, sort, i, j, k, data):
    t, rows = _bag(spark, epochs, sort)
    c, expect = t.clone(), list(rows)
    del c[i:j:k]
    del expect[i:j:k]
    assert _ab(c) == expect

    at = data.draw(st.integers(-len(rows), len(rows) - 1))
    c, expect = t.clone(), list(rows)
    popped = c.pop(at)
    assert (popped.a, popped.b) == expect.pop(at)
    assert _ab(c) == expect

    a, b = data.draw(st.sampled_from(rows))
    assert t.index({"a": a, "b": b}) == rows.index((a, b))
    c, expect = t.clone(), list(rows)
    c.remove({"a": a, "b": b})
    expect.remove((a, b))
    assert _ab(c) == expect


@given(epochs=epochs_strategy, sort=st.booleans(), n=st.integers(1, 5))
@PARITY
def test_batched_and_groupby_match_python_list(spark, epochs, sort, n):
    from itertools import groupby

    t, rows = _bag(spark, epochs, sort)
    assert [_ab(b) for b in t.batched(n)] == [
        rows[s : s + n] for s in range(0, len(rows), n)
    ]
    expect = [(key, list(g)) for key, g in groupby(rows, key=lambda r: r[0])]
    for materialize in (True, False):
        got = [(key, _ab(sub)) for key, sub in t.groupby("a", materialize=materialize)]
        assert got == expect, materialize
    by_key = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))
    got = [(key, _ab(sub)) for key, sub in t.groupby("a", sort=True)]
    assert got == [(key, list(g)) for key, g in groupby(by_key, key=lambda r: r[0])]


@given(
    left=st.lists(st.integers(0, 2), min_size=2, max_size=4),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(-2, 2)), min_size=2, max_size=6),
    sort=st.booleans(),
    i=_index,
    k=_step,
    data=st.data(),
)
@PARITY
def test_positions_over_a_one_to_many_join_match_python_list(spark, left, right, sort, i, k, data):
    """A join copies a left row's order pair onto each of its matches; the
    right row's order breaks the tie, so every action numbers the copies
    alike and in nested-loop order (left order, then right order)."""
    assume(any(sum(rk == lk for rk, _ in right) > 1 for lk in left))
    L, R = Table("L", spark=spark), Table("R", spark=spark)
    for part in (left[:1], left[1:]):
        L.insert_many([{"k": lk, "l": n} for n, lk in enumerate(part, len(L))])
    for part in (right[: len(right) // 2], right[len(right) // 2 :]):
        R.insert_many([{"k": rk, "r": r} for rk, r in part])
    t = L.join(R, k="k")
    t._mutate(t._require_df().repartition(4))
    rows = [(lk, n, r) for n, lk in enumerate(left) for rk, r in right if rk == lk]
    if sort:
        t.orderby("k")
        rows.sort(key=lambda x: x[0])

    def klr(tbl):
        return [(x.k, x.l, x.r) for x in tbl]

    assert klr(t) == rows
    assert [(x.l, x.r, x.n) for x in t.clone().rank("n")] == [
        (n, r, p + 1) for p, (_, n, r) in enumerate(rows)
    ]
    assert klr(t[i::k]) == rows[i::k]
    c, expect = t.clone(), list(rows)
    del c[i::k]
    del expect[i::k]
    assert klr(c) == expect
    at = data.draw(st.integers(-len(rows), len(rows) - 1))
    c, expect = t.clone(), list(rows)
    assert klr([c.pop(at)]) == [expect.pop(at)]
    assert klr(c) == expect
    target = data.draw(st.sampled_from(rows))
    obj = dict(zip("klr", target))
    assert t.index(obj) == rows.index(target)
    c, expect = t.clone(), list(rows)
    c.remove(obj)
    expect.remove(target)
    assert klr(c) == expect


# ---- xlsx codec round-trip (no Spark: pure driver-side codec) ---------- #

_cell = st.one_of(
    st.none(),
    st.integers(-(10**12), 10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"), max_codepoint=0x2FFF
        ),
        max_size=18,
    ),
    st.dates(),
    st.datetimes(
        min_value=__import__("datetime").datetime(1901, 1, 1),
        max_value=__import__("datetime").datetime(2200, 1, 1),
    ),
)


@given(
    grid=st.lists(
        st.lists(_cell, min_size=1, max_size=5), min_size=1, max_size=6
    ).filter(lambda g: len({len(r) for r in g}) == 1)
)
@settings(max_examples=40, deadline=None)
def test_xlsx_roundtrip_property(grid):
    """write_xlsx → read_xlsx is the identity for every Excel-native cell
    type (the writer never silently coerces)."""
    import datetime
    import io

    from littletable_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    buf = io.BytesIO()
    write_xlsx(buf, grid)
    back = read_xlsx(buf.getvalue())

    def norm(v):
        # Excel has one numeric type: integral floats read back as ints,
        # and datetimes are serial numbers (sub-microsecond truncation)
        if isinstance(v, float) and v == int(v) and abs(v) < 10**15:
            return int(v)
        if isinstance(v, datetime.datetime):
            return v.replace(microsecond=v.microsecond // 1000 * 1000)
        if isinstance(v, str) and v == "":
            return None  # empty text cell is indistinguishable from blank
        return v

    assert len(back) == len(grid)
    for got_row, exp_row in zip(back, grid):
        assert [norm(v) for v in got_row] == [norm(v) for v in exp_row]


def test_xlsx_datetime_millisecond_regression():
    """Far-date datetimes must round-trip exactly at millisecond
    precision: float64 Excel serials carry ~1 µs of representation error
    at 2080, which used to read .479000 back as .478999 (hypothesis-found
    in round 8). The codec now quantizes to integer ms on write and
    rounds to integer ms on read."""
    import datetime
    import io

    from littletable_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    cases = [
        datetime.datetime(2080, 1, 1, 1, 42, 12, 479000),
        datetime.datetime(2199, 12, 31, 23, 59, 59, 999000),
        datetime.datetime(1901, 1, 1, 0, 0, 0, 1000),
        datetime.datetime(2024, 2, 29, 12, 0, 0, 500000),
    ]
    buf = io.BytesIO()
    write_xlsx(buf, [[v] for v in cases])
    back = read_xlsx(buf.getvalue())
    assert [r[0] for r in back] == cases


words_strategy = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=0, max_size=30
)


@given(words=words_strategy, k=st.integers(1, 8), ov=st.integers(0, 7))
@SETTINGS
def test_chunking_reconstructs_and_bounds(spark, words, k, ov):
    """Chunking invariants for any doc: every chunk has 1..k tokens, the
    non-overlap prefix of consecutive chunks tiles the token stream, and
    with overlap=0 concatenation reproduces the document exactly."""
    from littletable_spark.operators.textops import chunk_documents

    if ov >= k:
        return
    t = Table("chprop", spark=spark)
    t.insert({"doc_id": 1, "text": " ".join(words)})
    out = sorted(
        ((r.chunk_id, r.chunk_text, r.n_chunk_tokens)
         for r in chunk_documents(t, "text", "doc_id", k, ov)),
    )
    if not words:
        assert out == []
        return
    assert all(1 <= n <= k for _, _, n in out)
    step = k - ov
    # starts run only while start <= max(len - ov, 1) (0-based: start <
    # max(len - ov, 1)) — a later start would yield a chunk fully
    # contained in its predecessor (round-5 fix)
    starts = list(range(0, max(len(words) - ov, 1), step))
    assert len(out) == len(starts)
    for (cid, text, n), s in zip(out, starts):
        assert text.split() == words[s : s + k]
    # every token is covered by some chunk
    covered = set()
    for s in starts:
        covered.update(range(s, min(s + k, len(words))))
    assert covered == set(range(len(words)))
    # no chunk is fully contained in its predecessor
    for (c1, _, n1), (c2, _, n2), (s1, s2) in zip(
        out, out[1:], zip(starts, starts[1:])
    ):
        assert s2 + n2 > s1 + n1
    if ov == 0:
        assert " ".join(c for _, c, _ in out).split() == words


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=0, max_size=40, unique=True),
    frac=st.floats(0.0, 1.0),
)
@SETTINGS
def test_split_is_disjoint_partition_and_stable(spark, keys, frac):
    """split_train_test: disjoint, union = input, and each row's side is
    independent of which other rows are present (re-shard stability)."""
    from littletable_spark.operators.sampling import split_train_test

    t = Table("splitprop", spark=spark)
    if keys:
        t.insert_many([{"k": k} for k in keys])
    else:
        return
    train, test = split_train_test(t, "k", frac, salt="prop")
    tr = {r.k for r in train}
    te = {r.k for r in test}
    assert tr | te == set(keys) and not (tr & te)
    # stability: the same keys in a smaller table land on the same side
    sub = keys[: len(keys) // 2]
    if sub:
        t2 = Table("splitprop2", spark=spark)
        t2.insert_many([{"k": k} for k in sub])
        tr2, te2 = split_train_test(t2, "k", frac, salt="prop")
        assert {r.k for r in tr2} == tr & set(sub)
        assert {r.k for r in te2} == te & set(sub)


@given(words=words_strategy)
@SETTINGS
def test_repetition_score_bounds(spark, words):
    from littletable_spark.operators.textops import repetition_score

    t = Table("repprop", spark=spark)
    t.insert({"doc_id": 1, "text": " ".join(words)})
    (row,) = list(repetition_score(t, "text", "doc_id", n=3))
    assert 0.0 <= row.dup_window_frac <= 1.0
    expected_total = max(len(words) - 2, 0)
    assert row.n_windows == expected_total
    if expected_total:
        grams = [" ".join(words[i : i + 3]) for i in range(expected_total)]
        assert row.n_distinct_windows == len(set(grams))


# --- late-round-6 curation operators vs pure-Python models ---

# min_size=1: a zero-doc table has no schema (reference semantics) and
# the curation operators require a DataFrame
docs_strategy = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=14),
    min_size=1,
    max_size=10,
)


def _mk_docs(spark, docs):
    t = Table("propdocs", spark=spark)
    rows = [{"doc_id": i, "text": " ".join(ws)} for i, ws in enumerate(docs)]
    if rows:
        t.insert_many(rows)
    return t


@given(docs=docs_strategy, k=st.integers(2, 4))
@SETTINGS
def test_duplicate_spans_property(spark, docs, k):
    from littletable_spark.operators.dedup import duplicate_spans

    grams, pos = {}, {}
    for i, ws in enumerate(docs):
        for p in range(1, len(ws) - k + 2):
            g = " ".join(ws[p - 1 : p - 1 + k])
            grams.setdefault(g, set()).add(i)
            pos.setdefault(i, []).append((p, g))
    dup = {g for g, ids in grams.items() if len(ids) >= 2}
    want = []
    for i, plist in pos.items():
        marked = sorted(p for p, g in plist if g in dup)
        if not marked:
            continue
        start = prev = marked[0]
        for p in marked[1:]:
            if p > prev + k:
                want.append((i, start, prev + k - 1, prev + k - start))
                start = p
            prev = p
        want.append((i, start, prev + k - 1, prev + k - start))
    got = sorted(
        tuple(r)
        for r in duplicate_spans(_mk_docs(spark, docs), "text", "doc_id", k=k)
        .df.collect()
    )
    assert got == sorted(want)


@given(docs=docs_strategy)
@SETTINGS
def test_line_dedup_property(spark, docs):
    """word-level line dedup (sep=' '): matches the model incl. empty
    docs dropping out and in-doc order preservation."""
    from littletable_spark.operators.dedup import line_dedup

    freq = {}
    for i, ws in enumerate(docs):
        text = " ".join(ws)
        for ln in set(text.split(" ")):
            freq.setdefault(ln, set()).add(i)
    bad = {ln for ln, ids in freq.items() if len(ids) >= 2}
    want = []
    for i, ws in enumerate(docs):
        kept = [ln for ln in " ".join(ws).split(" ") if ln not in bad]
        if kept:
            want.append((i, " ".join(kept), len(kept)))
    got = sorted(
        tuple(r)
        for r in line_dedup(_mk_docs(spark, docs), "text", "doc_id", sep=" ")
        .df.collect()
    )
    assert got == sorted(want)


@given(docs=docs_strategy, vocab=st.integers(1, 6))
@SETTINGS
def test_unigram_logprob_property(spark, docs, vocab):
    import math

    from littletable_spark.operators.textops import unigram_logprob

    freq = {}
    for ws in docs:
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
    n = float(sum(freq.values()))
    keep = dict(sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab])
    want = {}
    for i, ws in enumerate(docs):
        if not ws:
            continue
        lp = [math.log(keep.get(w, 0.5) / n) for w in ws]
        want[i] = (len(ws), sum(lp) / len(lp))
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob_per_token"])
        for r in unigram_logprob(
            _mk_docs(spark, docs), "text", "doc_id", vocab_size=vocab
        ).df.collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], rel=1e-9)


@given(docs=docs_strategy, cap=st.integers(1, 8))
@SETTINGS
def test_bigram_logprob_property(spark, docs, cap):
    """randomized stupid-backoff equivalence vs a brute-force model:
    capped bigram table, unigram backoff, OOV floor, <2-token docs
    emit nothing."""
    import math

    from littletable_spark.operators.textops import bigram_logprob

    uni = {}
    big = {}
    for ws in docs:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n = float(sum(uni.values()))
    kept = dict(
        sorted(big.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:cap]
    )
    want = {}
    for i, ws in enumerate(docs):
        if len(ws) < 2:
            continue
        lp = []
        for a, b in zip(ws, ws[1:]):
            if (a, b) in kept:
                lp.append(math.log(kept[(a, b)] / uni[a]))
            else:
                lp.append(math.log(0.4 * uni.get(b, 0.5) / n))
        want[i] = (len(ws) - 1, sum(lp) / len(lp))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob_per_bigram"])
        for r in bigram_logprob(
            _mk_docs(spark, docs), "text", "doc_id", model_size=cap
        ).df.collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], rel=1e-9)


@given(
    data=st.data(),
    n=st.integers(4, 14),
    dim=st.integers(2, 6),
    k=st.integers(1, 4),
)
@SETTINGS
def test_semantic_pairs_property(spark, data, n, dim, k):
    """randomized SemDeDup equivalence: for arbitrary vectors, cluster
    count, and threshold, the distributed pair set equals an in-memory
    blocked model (assign to nearest init vector by rounded cosine with
    low-index tie-break, then all same-cluster above-threshold pairs)."""
    import numpy as np

    from littletable_spark.operators.dedup import semantic_dup_pairs

    k = min(k, n)
    vals = data.draw(
        st.lists(
            st.lists(
                st.floats(-2, 2, allow_nan=False, width=32),
                min_size=dim,
                max_size=dim,
            ),
            min_size=n,
            max_size=n,
        )
    )
    X = np.array(vals, dtype=np.float64)
    # avoid all-zero vectors (cosine undefined; production embeddings
    # are nonzero by construction)
    X[np.linalg.norm(X, axis=1) == 0] += 1.0
    tau = data.draw(st.sampled_from([0.0, 0.3, 0.9]))
    init = list(range(k))

    t = Table("semprop", spark=spark)
    t.insert_many(
        [{"vec_id": i, "embedding": [float(x) for x in X[i]]} for i in range(n)]
    )

    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Cn = Xn[init]
    assign = np.argmax(np.round(Xn @ Cn.T, 6), axis=1)
    S = np.round(Xn @ Xn.T, 6)
    expect = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if assign[i] == assign[j] and S[i][j] >= tau
    }
    got = {
        (r.id1, r.id2)
        for r in semantic_dup_pairs(
            t, "vec_id", "embedding", threshold=tau, init_ids=init, train_iters=0
        )
    }
    assert got == expect
