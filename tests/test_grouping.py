"""Grouping, pivot, consecutive-run groupby (littletable.py:3546-3614,
2724-2742, 4295-4599)."""

import pytest
from pyspark.sql import functions as F

from littletable_spark import Table


def test_groupby_with_summaries_native(abc):
    g = abc.groupby_with_summaries(
        "a", total_b=F.sum("b"), n=F.count(F.lit(1)), max_c=F.max("c")
    )
    rows = {r.a: r for r in g}
    assert rows[0].total_b == 9 and rows[0].n == 9 and rows[0].max_c == 2


def test_groupby_with_summaries_callable(abc):
    g = abc.groupby_with_summaries(
        "a", spread=lambda rows: max(r.b for r in rows) - min(r.b for r in rows)
    )
    vals = {r.a: r.spread for r in g}
    assert set(vals.values()) == {"2"} or set(vals.values()) == {2}


def test_groupby_with_summaries_callable_error_fails_job(abc):
    # a bug in a summary callable surfaces as an error, not as NULLs
    g = abc.groupby_with_summaries("a", bad=lambda rows: 1 // 0)
    with pytest.raises(Exception, match="ZeroDivisionError"):
        g.df.collect()


def test_groupby_sorted_iteration(abc):
    groups = list(abc.groupby("a", sort=True))
    assert [k for k, _ in groups] == [0, 1, 2]
    assert all(len(sub) == 9 for _, sub in groups)


def test_groupby_consecutive_runs(spark):
    t = Table("runs", spark=spark)
    t.insert_many(
        [{"k": "x", "v": 1}, {"k": "x", "v": 2}, {"k": "y", "v": 3}, {"k": "x", "v": 4}]
    )
    groups = [(k, [r.v for r in sub]) for k, sub in t.groupby("k")]
    # itertools.groupby semantics: x appears twice (two separate runs)
    assert groups == [("x", [1, 2]), ("y", [3]), ("x", [4])]


def test_pivot_as_table(abc):
    pt = abc.pivot("a b")
    summary = pt.as_table()
    assert len(summary) == 9
    assert all(r.count == 3 for r in summary)


def test_pivot_sum_cells(abc):
    pt = abc.pivot("a")
    s = pt.as_table(sum, "c")
    vals = {r.a: r.sum_c for r in s}
    assert vals == {0: 9, 1: 9, 2: 9}


def test_pivot_getitem_descends(abc):
    pt = abc.pivot("a b")
    sub = pt[1]  # PivotTable on b within a==1
    leaf = sub[2]  # Table where a==1 and b==2
    assert len(leaf) == 3
    assert all(r.a == 1 and r.b == 2 for r in leaf)


def test_pivot_dump_counts(abc, capsys):
    text = abc.pivot("a b").dump_counts()
    assert "Total" in text
    # grand total is 27
    assert text.strip().splitlines()[-1].split()[-1] == "27"


def test_cube_rollup(abc):
    cu = abc.cube(["a"], n=F.count(F.lit(1)))
    rows = {r.a: r.n for r in cu}
    assert rows[None] == 27 and rows[0] == 9


def test_groupby_materialize_matches_lazy(spark):
    t = Table("runs2", spark=spark)
    t.insert_many(
        [{"k": "x", "v": 1}, {"k": "x", "v": 2}, {"k": "y", "v": 3},
         {"k": "x", "v": 4}, {"k": "y", "v": 5}, {"k": "y", "v": 6}]
    )
    mat = [(k, [r.v for r in sub]) for k, sub in t.groupby("k")]
    lazy = [(k, [r.v for r in sub]) for k, sub in t.groupby("k", materialize=False)]
    assert mat == lazy == [("x", [1, 2]), ("y", [3]), ("x", [4]), ("y", [5, 6])]
    mat_s = [(k, sorted(r.v for r in sub)) for k, sub in t.groupby("k", sort=True)]
    lazy_s = [
        (k, sorted(r.v for r in sub))
        for k, sub in t.groupby("k", sort=True, materialize=False)
    ]
    assert mat_s == lazy_s == [("x", [1, 2, 4]), ("y", [3, 5, 6])]


def test_groupby_materialize_single_scan(spark, abc):
    """The materialized iterator runs a bounded number of Spark jobs no
    matter how many groups there are (vs one filter job per group lazy)."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    groups = [(k, [r.b for r in sub]) for k, sub in abc.groupby("a", sort=True)]
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert len(groups) == 3 and all(len(v) == 9 for _, v in groups)
    # one materialize_limit guard (limit+count) + one collect (plus
    # possible AQE sub-jobs); group iteration itself is job-free thanks
    # to the prefetched-row cache — the bound stays O(1) in group count
    assert after - before <= 5
