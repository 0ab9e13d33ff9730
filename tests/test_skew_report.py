"""Data-skew diagnostics (operators/stats.py:skew_report): exact
heavy-hitter counts/shares per column, total rank order, NULL reported
as a value, map-side-bounded plan."""

import pytest

from littletable_spark import Table, plan_shape


def _rows(t):
    return {
        (r.col_name, r.value, r.cnt, round(r.share, 9), r.rank) for r in t
    }


def test_skew_report_matches_python_model(spark):
    """Counts, shares, and ranks agree with a pure-Python Counter model
    including NULLs and cross-type string rendering."""
    from collections import Counter

    data = [{"k": [1, 1, 1, 2, 2, None][i % 6], "s": "ab"[i % 2]} for i in range(60)]
    t = Table("skew", spark=spark)
    t.insert_many(data)
    out = t.skew_report(["k", "s"], top_k=2)

    exp = set()
    for col in ("k", "s"):
        c = Counter(
            str(d[col]) if d[col] is not None else None for d in data
        )
        total = sum(c.values())
        ordered = sorted(
            c.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or "")
        )
        for rk, (val, cnt) in enumerate(ordered[:2], start=1):
            exp.add((col, val, cnt, round(cnt / total, 9), rk))
    assert _rows(out) == exp
    # NULL shows up as a first-class value (k is None every 6th row)
    full = t.skew_report("k", top_k=10)
    assert any(r.value is None and r.cnt == 10 for r in full)


def test_skew_report_rank_is_total_and_validated(spark):
    """Equal-count values rank deterministically (value tie-break), and
    bad arguments fail loudly."""
    t = Table("skewt", spark=spark)
    t.insert_many([{"g": v} for v in ["b", "a", "b", "a", "c", "c"]])
    out = list(t.skew_report("g", top_k=3))
    assert [(r.value, r.rank) for r in out] == [("a", 1), ("b", 2), ("c", 3)]

    with pytest.raises(ValueError):
        t.skew_report([])
    with pytest.raises(ValueError):
        t.skew_report("nope")
    with pytest.raises(ValueError):
        t.skew_report("g", top_k=0)


def test_skew_report_plan_shape(spark):
    """stack stays JVM-side (no Python row UDF), the top-k filter plans
    as WindowGroupLimit, and the lint pass is clean."""
    from littletable_spark.plans.lint import lint_plan

    t = Table("skewp", spark=spark)
    t.insert_many([{"g": i % 3, "h": i % 5} for i in range(60)])
    r = t.skew_report(["g", "h"], top_k=2)
    shape = plan_shape(r.df)
    assert "WindowGroupLimit" in shape, shape
    assert not [
        op for op in shape if "BatchEvalPython" in op or "ArrowEvalPython" in op
    ], shape
    assert lint_plan(r.df) == []


def test_skew_report_hostile_column_names(spark):
    """column names containing quotes/backticks must not corrupt the
    unpivot (built from Column objects, not interpolated SQL)."""
    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 3)], ["it's `bad`", "v"]
    )
    t = Table.from_df(df, name="hostile")
    out = t.skew_report(["it's `bad`"], top_k=2)
    rows = {(r.value): r.cnt for r in out}
    assert rows == {"x": 2, "y": 1}


def test_corpus_report(spark):
    """Per-group curation report: counts, totals, exact percentiles,
    empty/NULL text handling."""
    from littletable_spark import Table
    from littletable_spark.operators.stats import corpus_report

    t = Table("docs", spark=spark)
    t.insert_many(
        [
            {"doc_id": 0, "lang": "en", "src": "a", "text": "one two three"},
            {"doc_id": 1, "lang": "en", "src": "a", "text": "four five"},
            {"doc_id": 2, "lang": "en", "src": "a", "text": "six"},
            {"doc_id": 3, "lang": "en", "src": "a", "text": "   "},
            {"doc_id": 4, "lang": "de", "src": "b", "text": None},
        ]
    )
    rows = {(r.lang, r.src): r for r in corpus_report(t, "text", by="lang src")}
    en = rows[("en", "a")]
    assert en.n_docs == 4 and en.n_empty == 1
    assert en.n_tokens_total == 6 and en.max_tokens == 3
    assert en.mean_tokens == 6 / 4
    # exact interpolated percentiles over [0, 1, 2, 3]
    assert en.p50_tokens == 1.5
    assert abs(en.p95_tokens - 2.85) < 1e-9
    de = rows[("de", "b")]
    assert de.n_docs == 1 and de.n_empty == 1 and de.n_tokens_total == 0
    import pytest as _p

    with _p.raises(ValueError, match="grouping column"):
        corpus_report(t, "text", by=[])
