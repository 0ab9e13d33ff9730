"""Row-class fidelity: user row types round-trip through import and
iteration (reference littletable.py:2751-2758, 2846; test matrix
unit_tests.py:220-365)."""

from collections import namedtuple
from dataclasses import dataclass

import pytest

from littletable_spark import Table, csv_import

Rec = namedtuple("Rec", "a b c")


@dataclass
class DRec:
    a: int
    b: int
    c: int


class SlottedRec:
    __slots__ = ("a", "b", "c")

    def __init__(self, a, b, c):
        self.a = a
        self.b = b
        self.c = c

    def __eq__(self, other):
        return (self.a, self.b, self.c) == (other.a, other.b, other.c)


CSV = "a,b,c\n1,2,3\n4,5,6\n"


@pytest.mark.parametrize("cls", [Rec, DRec, SlottedRec])
def test_csv_import_row_class_materializes(spark, cls):
    t = csv_import(CSV, transforms={"*": int}, row_class=cls, spark=spark)
    rows = list(t)
    assert all(isinstance(r, cls) for r in rows)
    assert (rows[0].a, rows[0].b, rows[0].c) == (1, 2, 3)
    assert (rows[1].a, rows[1].b, rows[1].c) == (4, 5, 6)


def test_row_class_survives_derivation(spark):
    t = csv_import(CSV, transforms={"*": int}, row_class=Rec, spark=spark)
    filtered = t.where(a=Table.gt(1))
    rows = list(filtered)
    assert rows and all(isinstance(r, Rec) for r in rows)
    assert isinstance(t[0], Rec)
    assert isinstance(t.clone()[0], Rec)


def test_row_class_via_indexed_access(spark):
    t = csv_import(CSV, transforms={"*": int}, row_class=Rec, spark=spark)
    t.create_index("a", unique=True)
    assert isinstance(t.by.a[4], Rec)


def test_typed_rows_insert_and_materialize(spark):
    t = Table("typed", spark=spark)
    t.insert_many([Rec(1, 2, 3), Rec(4, 5, 6)])
    t.row_class = Rec
    assert list(t) == [Rec(1, 2, 3), Rec(4, 5, 6)]


def test_row_class_default_is_simplenamespace(spark):
    from types import SimpleNamespace

    t = csv_import(CSV, spark=spark)
    assert isinstance(t[0], SimpleNamespace)
    assert t.row_class is SimpleNamespace


ROW_CALLABLE_CASES = [
    "where",
    "where_value",
    "compute_field",
    "update",
    "splitby",
    "unique",
    "orderby",
    "groupby_with_summaries",
]


@pytest.mark.parametrize("case", ROW_CALLABLE_CASES)
def test_row_callables_receive_row_class_objects(spark, case):
    """Every Python callable sees the objects iteration yields: a
    ``row_class`` method works on the executors exactly as it does on
    ``list(t)`` on the driver."""

    # defined here so cloudpickle ships the class by value
    @dataclass
    class Rec:
        a: int
        b: int
        c: int

        def total(self):
            return self.a + self.b + self.c

    t = Table("rc", spark=spark)
    t.insert_many(
        [{"a": 1, "b": 2, "c": 3}, {"a": 1, "b": 5, "c": 6}, {"a": 2, "b": 8, "c": 9}]
    )
    t.row_class = Rec
    rows = list(t)
    assert [r.total() for r in rows] == [6, 12, 19]
    big = lambda r: r.total() > 10  # noqa: E731

    if case == "where":
        assert list(t.where(big)) == [r for r in rows if big(r)]
    elif case == "where_value":
        assert list(t.where(b=lambda v: v > 3)) == [r for r in rows if r.b > 3]
    elif case == "compute_field":
        t.compute_field("tot", lambda r: r.total(), default=-1)
        assert list(t.all.tot) == [r.total() for r in rows]
        assert dict(t.df.dtypes)["tot"] == "bigint"
    elif case == "update":
        assert t.update(where=big, c=lambda r: r.total()) == 2
        assert list(t.all.c) == [r.total() if big(r) else r.c for r in rows]
        assert dict(t.df.dtypes)["c"] == "bigint"
    elif case == "splitby":
        no, yes = t.splitby(big)
        assert list(no) == [r for r in rows if not big(r)]
        assert list(yes) == [r for r in rows if big(r)]
    elif case == "unique":
        firsts = {}
        for r in rows:
            firsts.setdefault(r.total() % 2, r)
        assert list(t.unique(key=lambda r: r.total() % 2)) == list(firsts.values())
    elif case == "orderby":
        t.orderby(lambda r: -r.total())
        assert list(t) == sorted(rows, key=lambda r: -r.total())
    else:
        out = t.groupby_with_summaries(
            "a", tot=(lambda recs: sum(r.total() for r in recs), "long")
        )
        expected = {}
        for r in rows:
            expected[r.a] = expected.get(r.a, 0) + r.total()
        assert {r["a"]: r["tot"] for r in out.df.collect()} == expected
