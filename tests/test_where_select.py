"""Filters, comparators, projections (reference littletable.py:2100-2351,
998-1139, 3494-3542, 3630-3795)."""

import re

import pytest

from littletable_spark import Table


def test_comparators(abc):
    assert len(abc.where(a=Table.gt(1))) == 9
    assert len(abc.where(a=Table.ge(1))) == 18
    assert len(abc.where(a=Table.lt(1))) == 9
    assert len(abc.where(a=Table.le(1))) == 18
    assert len(abc.where(a=Table.ne(1))) == 18
    assert len(abc.where(a=Table.eq(1))) == 9
    assert len(abc.where(a=Table.between(0, 2))) == 9  # exclusive
    assert len(abc.where(a=Table.within(0, 1))) == 18  # inclusive
    assert len(abc.where(a=Table.in_range(0, 1))) == 9  # half-open
    assert len(abc.where(a=Table.is_in([0, 2]))) == 18
    assert len(abc.where(a=Table.not_in([0, 2]))) == 9


def test_where_kwargs_equality_and_conjunction(abc):
    assert len(abc.where(a=1, b=2)) == 3
    assert len(abc.where(a=1, b=2, c=0)) == 1
    assert len(abc.where(a=5)) == 0


def test_where_none_matches_null(spark):
    t = Table("n", spark=spark)
    t.insert_many([{"x": 1, "y": "v"}, {"x": 2, "y": None}])
    assert len(t.where(y=None)) == 1
    assert len(t.where(y=Table.is_none())) == 1
    assert len(t.where(y=Table.is_not_none())) == 1


def test_where_missing_attribute_reads_none(abc):
    # missing attr == None semantics (littletable.py:2148)
    assert len(abc.where(zzz=None)) == 27
    assert len(abc.where(zzz=5)) == 0


def test_where_callable_predicate_exception_is_false(abc):
    # record predicate with an exception row -> excluded, not raised
    out = abc.where(lambda r: 1 // (r.a - 1) >= 0 or True)
    assert len(out) == 18  # a==1 rows raise ZeroDivisionError -> dropped


def test_where_value_callable(abc):
    out = abc.where(a=lambda v: v % 2 == 0)
    assert len(out) == 18


def test_string_comparators(spark):
    t = Table("s", spark=spark)
    t.insert_many([{"w": "apple"}, {"w": "apricot"}, {"w": "banana"}, {"w": ""}])
    assert len(t.where(w=Table.startswith("ap"))) == 2
    assert len(t.where(w=Table.endswith("ot"))) == 1
    assert len(t.where(w=Table.re_match(r"an.n"))) == 1
    assert len(t.where(w=Table.is_null())) == 1
    assert len(t.where(w=Table.is_not_null())) == 3


def test_select_fields_string_syntax(abc):
    assert abc.select("a b").fields == ["a", "b"]
    assert abc.select("* -b").fields == ["a", "c"]
    assert abc.select(["c", "a"]).fields == ["c", "a"]


def test_select_computed_columns(abc):
    t = abc.select("a", total="a + b + c", label="{a}-{b}-{c}")
    row = t[0]
    assert row.total == 0
    assert row.label == "0-0-0"
    t2 = abc.select("a", double=lambda r: r.a * 2)
    assert t2[26].double == "4" or t2[26].double == 4  # udf returns string by default


def test_compute_field_default_on_exception(abc):
    abc.compute_field("inv", lambda r: 10 // r.a, default=-1)
    vals = {(r.a, r.inv) for r in abc}
    assert ("0", -1) in {(str(a), i) for a, i in vals} or (0, "-1") in vals or (0, -1) in vals


def test_compute_field_int_default_in_double_column(spark):
    # the first row types the column as double; a raising row's int
    # default is stored as a float, not dropped to NULL
    t = Table("ratio", spark=spark)
    t.insert_many([{"a": 1, "b": 2}, {"a": 1, "b": 0}])
    t.compute_field("r", lambda r: r.a / r.b, default=0)
    assert dict(t.df.dtypes)["r"] == "double"
    assert list(t.all.r) == [0.5, 0.0]


def test_format_template_underscore_and_nested_fields(spark):
    t = Table("fmt", spark=spark)
    t.insert_many([{"_id": 7, "s": {"x": 1}}, {"_id": 8, "s": {"x": 2}}])
    assert list(t.select(label="{_id}-{s.x}").all.label) == ["7-1", "8-2"]


def test_where_value_callable_gets_iteration_value(spark):
    # nested structs arrive as the dicts (and lists of dicts) iteration yields
    t = Table("nested", spark=spark)
    t.insert_many(
        [
            {"k": 1, "s": {"x": 1}, "xs": [{"x": 1}]},
            {"k": 2, "s": {"x": 2}, "xs": [{"x": 2}, {"x": 3}]},
        ]
    )
    last = list(t)[-1]
    assert last.s == {"x": 2} and last.xs == [{"x": 2}, {"x": 3}]
    assert [r.k for r in t.where(s=lambda v: v == last.s)] == [2]
    assert [r.k for r in t.where(xs=lambda v: v == last.xs)] == [2]


def test_delete_returns_count(abc):
    n = abc.delete(a=0)
    assert n == 9
    assert len(abc) == 18


def test_splitby(abc):
    evens, odds = abc.splitby(lambda r: r.a % 2 == 1)
    assert len(odds) == 9 and len(evens) == 18
    lo, hi = abc.splitby(a=Table.gt(0))
    assert len(hi) == 18 and len(lo) == 9


def test_splitby_errors_routing(spark):
    t = Table("e", spark=spark)
    t.insert_many([{"x": 2}, {"x": 0}, {"x": 4}])
    ok_false, ok_true, errs = t.splitby(lambda r: 4 // r.x > 1, errors=True)
    assert len(errs) == 1 and errs[0].x == 0
    assert len(ok_true) == 1 and ok_true[0].x == 2
    assert len(ok_false) == 1 and ok_false[0].x == 4


def test_unique_full_record_and_key(spark):
    t = Table("q", spark=spark)
    t.insert_many([{"a": 1, "b": "x"}, {"a": 1, "b": "x"}, {"a": 1, "b": "y"}])
    assert len(t.unique()) == 2
    u = t.unique(key="a")
    assert len(u) == 1 and u[0].b == "x"  # keep-first


def test_awkward_field_names_round_trip(spark):
    """Field names holding a backtick or a dot are names, not
    expressions: ``.df``, ``select`` and ``where`` keywords quote them."""
    t = Table("awkward", spark=spark)
    t.insert_many([{"a`b": "p", "x.y": 1}, {"a`b": "q", "x.y": 2}])
    assert t.df.columns == ["a`b", "x.y"]
    assert [tuple(r) for r in t.df.collect()] == [("p", 1), ("q", 2)]
    picked = t.select(["x.y", "a`b"])
    assert picked.fields == ["x.y", "a`b"]
    assert [tuple(r) for r in picked.df.collect()] == [(1, "p"), (2, "q")]
    hit = t.where(**{"x.y": 1})
    assert [(getattr(r, "a`b"), getattr(r, "x.y")) for r in hit] == [("p", 1)]
