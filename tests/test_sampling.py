"""Deterministic sampling operators: reproducibility, stratum rates,
minwise nesting, split partition properties, and no-shuffle plans."""

import pytest

from littletable_spark import Table, plan_shape


@pytest.fixture(scope="module")
def orders(spark):
    return Table.parquet_import(
        spark, "/root/testdata/sf0.001/orders.parquet", name="orders"
    )


def _keys(t, col="o_orderkey"):
    return {r[col] for r in t.df.select(col).collect()}


def test_sample_hash_deterministic_and_sized(orders):
    from littletable_spark.operators.sampling import sample_hash

    s1 = sample_hash(orders, "o_orderkey", 0.2, salt="t")
    s2 = sample_hash(orders, "o_orderkey", 0.2, salt="t")
    k1, k2 = _keys(s1), _keys(s2)
    assert k1 == k2  # reproducible
    n = len(orders)
    assert 0.13 * n < len(k1) < 0.27 * n  # ~Bernoulli(0.2) on 1500 rows
    # different salt -> different (but valid) sample
    assert _keys(sample_hash(orders, "o_orderkey", 0.2, salt="u")) != k1


def test_sample_stratified_rates_and_default_drop(orders):
    from littletable_spark.operators.sampling import sample_stratified

    s = sample_stratified(
        orders, "o_orderstatus", {"O": 0.5, "F": 0.1}, key_col="o_orderkey"
    )
    base = {
        r["o_orderstatus"]: r["count"]
        for r in orders.df.groupBy("o_orderstatus").count().collect()
    }
    got = {
        r["o_orderstatus"]: r["count"]
        for r in s.df.groupBy("o_orderstatus").count().collect()
    }
    assert "P" not in got  # default=0.0 drops unlisted strata
    assert 0.35 < got["O"] / base["O"] < 0.65
    assert 0.03 < got["F"] / base["F"] < 0.2


def test_sample_fixed_k_and_nesting(orders):
    from littletable_spark.operators.sampling import sample_fixed

    s50 = _keys(sample_fixed(orders, "o_orderkey", 50))
    s100 = _keys(sample_fixed(orders, "o_orderkey", 100))
    assert len(s50) == 50 and len(s100) == 100
    assert s50 < s100  # minwise nesting


def test_sample_fixed_plan_is_take_ordered(orders):
    from littletable_spark.operators.sampling import sample_fixed

    shape = plan_shape(sample_fixed(orders, "o_orderkey", 10).df)
    assert "TakeOrderedAndProject" in shape, shape


def test_sample_hash_no_shuffle(orders):
    from littletable_spark.operators.sampling import sample_hash

    shape = plan_shape(sample_hash(orders, "o_orderkey", 0.5).df)
    assert not [op for op in shape if "Exchange" in op], shape


def test_split_train_test_partitions(orders):
    from littletable_spark.operators.sampling import split_train_test

    train, test = split_train_test(orders, "o_orderkey", 0.25, salt="v")
    kt, ks = _keys(train), _keys(test)
    assert kt.isdisjoint(ks)
    assert kt | ks == _keys(orders)
    n = len(orders)
    assert 0.18 * n < len(ks) < 0.32 * n
    # membership is stable under corpus changes: dropping other rows
    # never flips a row's side
    sub = orders.where(lambda r: r.o_orderkey % 2 == 0)
    tr2, te2 = split_train_test(sub, "o_orderkey", 0.25, salt="v")
    assert _keys(te2) == {k for k in ks if k % 2 == 0}


def test_resample_to_mixture_proportions_and_stability(spark):
    """Mixture resampling: the scarcest source (relative to its weight)
    is kept whole, other sources thin to ~target proportions, sources
    outside the weight map are dropped, and the selection is stable
    under repartitioning."""
    from littletable_spark.operators.sampling import resample_to_mixture

    t = Table("mixdocs", spark=spark)
    rows = (
        [{"doc_id": i, "src": "web"} for i in range(3000)]
        + [{"doc_id": 10_000 + i, "src": "code"} for i in range(500)]
        + [{"doc_id": 20_000 + i, "src": "papers"} for i in range(400)]
        + [{"doc_id": 30_000 + i, "src": "junk"} for i in range(100)]
    )
    t.insert_many(rows)
    out = resample_to_mixture(
        t, "src", {"web": 0.6, "code": 0.3, "papers": 0.1}, key_col="doc_id"
    )
    got = {r["src"]: r["n"] for r in
           out.df.groupBy("src").count().withColumnRenamed("count", "n").collect()}
    assert "junk" not in got
    # T = min(3000/.6, 500/.3, 400/.1) = 500/.3 = 1666.7 -> binding: code
    assert got["code"] == 500  # scarcest source kept whole
    # web ~ .6*1666.7 = 1000, papers ~ .1*1666.7 = 166.7 (hash variance)
    assert abs(got["web"] - 1000) < 100
    assert abs(got["papers"] - 167) < 45
    # deterministic under re-sharding
    t2 = Table.from_df(t.df.repartition(13), name="mixdocs2")
    out2 = resample_to_mixture(
        t2, "src", {"web": 0.6, "code": 0.3, "papers": 0.1}, key_col="doc_id"
    )
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in out2)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        resample_to_mixture(t, "src", {}, key_col="doc_id")


def test_cap_per_group_exact_and_nested(spark):
    """Groups under the cap keep everything; over-cap groups keep
    exactly cap; survivors are NESTED in the cap (raising it only adds
    rows) and stable under repartitioning."""
    from littletable_spark.operators.sampling import cap_per_group

    t = Table("capt", spark=spark)
    t.insert_many(
        [{"g": "big", "k": i} for i in range(40)]
        + [{"g": "small", "k": 100 + i} for i in range(3)]
    )
    out10 = cap_per_group(t, "g", 10, key_col="k", salt="s")
    by_g = {}
    for r in out10:
        by_g.setdefault(r.g, set()).add(r.k)
    assert len(by_g["big"]) == 10
    assert by_g["small"] == {100, 101, 102}

    out5 = cap_per_group(t, "g", 5, key_col="k", salt="s")
    kept5 = {(r.g, r.k) for r in out5}
    kept10 = {(r.g, r.k) for r in out10}
    assert kept5 < kept10  # nested: cap=5 survivors all survive cap=10

    resharded = Table.from_df(t.df.repartition(13))
    again = {(r.g, r.k) for r in cap_per_group(resharded, "g", 10, key_col="k", salt="s")}
    assert again == kept10

    with pytest.raises(ValueError):
        cap_per_group(t, "g", 0, key_col="k")


def test_cap_per_group_plans_window_group_limit(spark):
    """The rank filter must reach the map side (WindowGroupLimit), so a
    skewed group is bounded to ~cap rows per input partition before the
    shuffle."""
    from littletable_spark.operators.sampling import cap_per_group

    t = Table("capp", spark=spark)
    t.insert_many([{"g": i % 2, "k": i} for i in range(50)])
    shape = plan_shape(cap_per_group(t, "g", 5, key_col="k").df)
    assert "WindowGroupLimit" in shape, shape


def test_cap_per_group_weighted_budget(spark):
    """weight_col turns the cap into a summed-weight budget: survivors
    are the greedy prefix (in the SAME minwise order as the row-count
    form) whose running total fits; a group under budget keeps
    everything; raising the budget only adds survivors; decisions are
    re-shard-stable and a pure-Python cumsum model agrees exactly."""
    import hashlib

    from littletable_spark.operators.sampling import cap_per_group

    rows = [
        {"g": "big", "k": i, "w": 10 + (i * 7) % 25} for i in range(40)
    ] + [{"g": "small", "k": 100 + i, "w": 5} for i in range(3)]
    t = Table("capw", spark=spark)
    t.insert_many(rows)

    def model(budget):
        h = lambda k: int(hashlib.md5(f"{k}s".encode()).hexdigest()[:8], 16)
        keep = set()
        for g in {"big", "small"}:
            cum = 0
            for r in sorted(
                (r for r in rows if r["g"] == g), key=lambda r: (h(r["k"]), r["k"])
            ):
                cum += r["w"]
                if cum <= budget:
                    keep.add((g, r["k"]))
        return keep

    out = cap_per_group(t, "g", 100, key_col="k", salt="s", weight_col="w")
    kept = {(r.g, r.k) for r in out}
    assert kept == model(100)
    assert {k for g, k in kept if g == "small"} == {100, 101, 102}  # under budget

    bigger = {
        (r.g, r.k)
        for r in cap_per_group(t, "g", 200, key_col="k", salt="s", weight_col="w")
    }
    assert kept < bigger and bigger == model(200)  # nested in the budget

    resharded = Table.from_df(t.df.repartition(13))
    again = {
        (r.g, r.k)
        for r in cap_per_group(resharded, "g", 100, key_col="k", salt="s", weight_col="w")
    }
    assert again == kept

    # min_weight (a true lower bound) changes nothing but the plan:
    # identical survivors, and the rank pre-filter restores the
    # map-side WindowGroupLimit bound the window SUM alone lacks.
    capped = cap_per_group(
        t, "g", 100, key_col="k", salt="s", weight_col="w", min_weight=5
    )
    assert {(r.g, r.k) for r in capped} == kept
    shape = plan_shape(capped.df)
    assert "WindowGroupLimit" in shape, shape


def test_cap_per_group_weighted_edge_cases(spark):
    """STRICT-PREFIX semantics: a row heavier than the remaining budget
    busts it for everything ranked at or after it (the running sum
    keeps counting dropped rows — survivors are always a prefix of the
    minwise order, never a skip-and-continue knapsack). NULL weights
    consume nothing and do NOT poison later rows in their group."""
    import hashlib

    from littletable_spark.operators.sampling import cap_per_group

    t = Table("capwe", spark=spark)
    t.insert_many(
        [{"g": "a", "k": i, "w": 1000 if i == 0 else 1} for i in range(5)]
        + [{"g": "b", "k": 10}, {"g": "b", "k": 11}]  # w column absent -> NULL
    )
    out = cap_per_group(t, "g", 10, key_col="k", weight_col="w")
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, set()).add(r.k)

    h = lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
    exp, cum = set(), 0
    for k in sorted(range(5), key=lambda k: (h(k), k)):
        cum += 1000 if k == 0 else 1
        if cum <= 10:
            exp.add(k)
    assert 0 not in exp  # the 1000-weight row never fits the 10-budget
    assert by_g.get("a", set()) == exp
    assert by_g["b"] == {10, 11}  # NULL weights survive, consume nothing


def test_mixture_temperature_flattens_toward_uniform(spark):
    """T=1 reproduces the stated proportions exactly (bit-identical to
    the pre-temperature behavior); large T approaches uniform so the
    scarce source's share rises; T<=0 fails loudly."""
    from littletable_spark.operators.sampling import resample_to_mixture

    t = Table("mixT", spark=spark)
    t.insert_many(
        [{"k": i, "src": "web"} for i in range(300)]
        + [{"k": 1000 + i, "src": "code"} for i in range(60)]
    )
    w = {"web": 0.9, "code": 0.1}
    base = resample_to_mixture(t, "src", w, key_col="k", salt="t")
    t1 = resample_to_mixture(t, "src", w, key_col="k", salt="t", temperature=1.0)
    assert sorted(r.k for r in base) == sorted(r.k for r in t1)

    def share(tbl, src):
        rows = list(tbl)
        return sum(1 for r in rows if r.src == src) / len(rows)

    hot = resample_to_mixture(t, "src", w, key_col="k", salt="t", temperature=8.0)
    # T=8 flattens 0.9/0.1 toward ~0.55/0.45: code's share must rise
    assert share(hot, "code") > share(base, "code")
    assert abs(share(hot, "code") - 0.45) < 0.12

    with pytest.raises(ValueError):
        resample_to_mixture(t, "src", w, key_col="k", temperature=0.0)


def test_epoch_shuffle_deterministic_balanced_and_ordered(spark, tmp_path):
    """epoch_shuffle: same seed -> bit-identical layout; different seed
    -> different permutation; shards balanced; in-partition order is
    (shard, shuffle_ord); parquet round-trip preserves the layout."""
    from littletable_spark import Table
    from littletable_spark.operators.sampling import epoch_shuffle, hash_bucket
    from pyspark.sql import functions as F

    docs = Table.parquet_import(spark, "/root/testdata/sf0.001/documents.parquet")
    a = epoch_shuffle(docs, "doc_id", seed="e1", n_shards=8)
    b = epoch_shuffle(docs, "doc_id", seed="e1", n_shards=8)
    rows_a = [(r["doc_id"], r["shard"], r["shuffle_ord"]) for r in a.df.collect()]
    rows_b = [(r["doc_id"], r["shard"], r["shuffle_ord"]) for r in b.df.collect()]
    assert rows_a == rows_b  # same seed: identical incl. physical order
    c = epoch_shuffle(docs, "doc_id", seed="e2", n_shards=8)
    assert [r["doc_id"] for r in c.df.collect()] != [x[0] for x in rows_a]
    # shard = hash mod, balanced and complete
    counts = {r["shard"]: r["n"] for r in
              a.df.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = len(docs)
    assert set(counts) == set(range(8))
    assert all(abs(v - n / 8) < n / 8 for v in counts.values())
    # in-partition order: shuffle_ord nondecreasing within each partition
    def _check(it):
        prev = None
        for row in it:
            cur = (row["shard"], row["shuffle_ord"])
            assert prev is None or cur >= prev
            prev = cur
        return iter(())
    list(a.df.rdd.mapPartitions(lambda it: _check(it)).collect())
    # ord values match the documented md5 formula
    one = a.df.limit(5).collect()
    chk = docs.df.select("doc_id", hash_bucket(F.col("doc_id"), "epoch:e1").alias("h")).collect()
    hmap = {r["doc_id"]: r["h"] for r in chk}
    for r in one:
        assert r["shuffle_ord"] == hmap[r["doc_id"]]
    # parquet round-trip: files = shards, each file internally sorted
    p = str(tmp_path / "epoch")
    a.parquet_export(p)
    back = spark.read.parquet(p)
    assert back.count() == n


# ------------------------------------------------------------------ #
# weighted sampling without replacement (A-ES)                        #
# ------------------------------------------------------------------ #


def _aes_model(keys_weights, k, salt=""):
    """Independent numpy/hashlib model of sample_weighted: the exact
    md5-prefix u draw and ln(u)/w score, top-k by (score desc, key)."""
    import hashlib
    import math

    scored = []
    for key, w in keys_weights:
        if w is None or w <= 0:
            continue
        h = int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        scored.append((math.log(u) / w, key))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [key for _, key in scored[:k]]


def test_sample_weighted_matches_independent_model(spark):
    from littletable_spark.operators.sampling import sample_weighted

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(200)]
    t = Table("wsamp", spark=spark)
    t.insert_many([{"rid": r, "w": w} for r, w in rows])
    got = [
        r.rid
        for r in sample_weighted(t, 25, "w", "rid", salt="x")
        .df.select("rid")
        .collect()
    ]
    assert sorted(got) == sorted(_aes_model(rows, 25, salt="x"))


def test_sample_weighted_is_weight_proportional_at_k1(spark):
    """A-ES with k=1 selects row i with probability w_i/Σw exactly;
    across 300 independent salts the empirical counts must track the
    1:2:7 weights (±5 sigma)."""
    from littletable_spark.operators.sampling import sample_weighted

    t = Table("w3", spark=spark)
    t.insert_many(
        [{"rid": 0, "w": 1.0}, {"rid": 1, "w": 2.0}, {"rid": 2, "w": 7.0}]
    )
    # the model is exact and cheap — run the trial sweep driver-side,
    # then spot-check a handful of salts through the real operator
    wins = [0, 0, 0]
    rows = [(0, 1.0), (1, 2.0), (2, 7.0)]
    for s in range(300):
        wins[_aes_model(rows, 1, salt=f"s{s}")[0]] += 1
    for i, p in enumerate((0.1, 0.2, 0.7)):
        mean, sigma = 300 * p, (300 * p * (1 - p)) ** 0.5
        assert abs(wins[i] - mean) < 5 * sigma, (i, wins)
    for s in ("a", "b", "c"):
        got = sample_weighted(t, 1, "w", "rid", salt=s).df.collect()
        assert [r.rid for r in got] == _aes_model(rows, 1, salt=s)


def test_sample_weighted_nested_null_and_plan(spark):
    from littletable_spark.operators.sampling import sample_weighted

    t = Table("wn", spark=spark)
    t.insert_many(
        [{"rid": i, "w": float(i % 5)} for i in range(50)]  # w=0 for i%5==0
        + [{"rid": 99, "w": None}]
    )
    small = {r.rid for r in sample_weighted(t, 5, "w", "rid").df.collect()}
    big = {r.rid for r in sample_weighted(t, 20, "w", "rid").df.collect()}
    assert small <= big  # nested: fixed scores, moving cutoff
    everything = {
        r.rid for r in sample_weighted(t, 1000, "w", "rid").df.collect()
    }
    assert 99 not in everything  # NULL weight excluded
    assert all(r % 5 != 0 for r in everything)  # zero weight excluded
    shape = plan_shape(sample_weighted(t, 5, "w", "rid").df)
    assert "TakeOrderedAndProject" in shape, shape

    with pytest.raises(ValueError, match="k must be positive"):
        sample_weighted(t, 0, "w", "rid")


def test_weighted_score_threshold_equals_topk(spark):
    """The corpus-scale recipe: thresholding weighted_sample_score at
    the k-th selected row's score reproduces sample_weighted's set —
    the projection and the TakeOrdered path compute the same score."""
    from littletable_spark.operators.sampling import (
        sample_weighted,
        weighted_sample_score,
    )
    from pyspark.sql import functions as F

    t = Table("wt", spark=spark)
    t.insert_many(
        [{"rid": i, "w": float(1 + (i * 3) % 7)} for i in range(120)]
        + [{"rid": 999, "w": None}]
    )
    topk = {r.rid for r in sample_weighted(t, 30, "w", "rid", salt="z")}
    scored = t.df.withColumn(
        "s", weighted_sample_score("rid", "w", salt="z")
    )
    cutoff = (
        scored.where(F.col("rid").isin(list(topk)))
        .agg(F.min("s"))
        .collect()[0][0]
    )
    via_threshold = {
        r.rid for r in scored.where(F.col("s") >= cutoff).collect()
    }
    assert via_threshold == topk
    # NULL weight scores NULL and never clears any cutoff
    assert scored.where("rid = 999").collect()[0]["s"] is None
