"""Core ordered-bag semantics (reference list-like surface,
littletable.py:1377-1462, 2184-2257, 3616-3628, 3816-3830)."""

from types import SimpleNamespace

import pytest

from littletable_spark import Table, UniqueKeyViolation


def test_len_iter_order(abc):
    assert len(abc) == 27
    rows = list(abc)
    assert [r.a for r in rows[:3]] == [0, 0, 0]
    assert (rows[0].b, rows[0].c) == (0, 0)
    assert (rows[-1].a, rows[-1].b, rows[-1].c) == (2, 2, 2)


def test_getitem_and_slices(abc):
    assert vars(abc[0]) == {"a": 0, "b": 0, "c": 0}
    assert vars(abc[-1]) == {"a": 2, "b": 2, "c": 2}
    sub = abc[3:6]
    assert len(sub) == 3
    assert [(r.a, r.b, r.c) for r in sub] == [(0, 1, 0), (0, 1, 1), (0, 1, 2)]
    with pytest.raises(IndexError):
        abc[27]


def test_contains_count_index(abc):
    assert {"a": 1, "b": 1, "c": 1} in abc
    assert {"a": 9, "b": 0, "c": 0} not in abc
    assert abc.count({"a": 0, "b": 0, "c": 0}) == 1
    assert abc.index({"a": 0, "b": 1, "c": 0}) == 3


def test_insert_heterogeneous_rows(spark):
    t = Table("het", spark=spark)
    t.insert({"x": 1, "y": "a"})
    t.insert(SimpleNamespace(x=2, z=3.5))  # schema widens, y missing -> None
    rows = list(t)
    assert rows[0].x == 1 and rows[0].y == "a"
    assert rows[1].x == 2 and rows[1].y is None and rows[1].z == 3.5
    assert rows[0].z is None


def test_union_bag_semantics(abc):
    both = abc + abc
    assert len(both) == 54  # UNION ALL, no dedup
    assert len(both.unique()) == 27


def test_head_tail(abc):
    assert [(r.a, r.b, r.c) for r in abc.head(2)] == [(0, 0, 0), (0, 0, 1)]
    assert [(r.a, r.b, r.c) for r in abc.tail(2)] == [(2, 2, 1), (2, 2, 2)]


def test_orderby_string_syntax(abc):
    abc.orderby("a desc, b, c desc")
    first = abc[0]
    assert (first.a, first.b, first.c) == (2, 0, 2)


def test_orderby_then_rank(abc):
    abc.orderby("c desc, a, b")
    abc.rank("rnk")
    rows = list(abc.where(rnk=Table.le(3)))
    assert [r.rnk for r in rows] == [1, 2, 3]
    assert all(r.c == 2 for r in rows)


def test_orderby_callable_key(abc):
    abc.orderby(lambda r: (r.c, -r.a))
    first = abc[0]
    assert first.c == 0 and first.a == 2
    # the synthesized sort-key column must not leak into the schema
    assert abc.fields == ["a", "b", "c"]
    sel = abc.select("a c")
    assert sel.fields == ["a", "c"]
    assert sel[0].c == 0  # ordering survives projection


def test_shuffle_is_permutation(abc):
    abc.shuffle(seed=7)
    vals = sorted((r.a, r.b, r.c) for r in abc)
    assert len(vals) == 27 and vals[0] == (0, 0, 0)


def test_batched(abc):
    batches = list(abc.batched(10))
    assert [len(b) for b in batches] == [10, 10, 7]
    assert (batches[2][0].a, batches[2][0].b) == (2, 0)


def test_pop_and_delitem(abc):
    first = abc.pop(0)
    assert vars(first) == {"a": 0, "b": 0, "c": 0}
    assert len(abc) == 26


def test_clone_copy_template(abc):
    c = abc.clone("copy")
    assert len(c) == 27
    tpl = abc.copy_template()
    assert len(tpl) == 0 and tpl.fields == ["a", "b", "c"]


def test_unique_index_enforcement(spark):
    t = Table("u", spark=spark)
    t.insert_many([{"k": 1, "v": "x"}, {"k": 2, "v": "y"}])
    t.create_index("k", unique=True)
    with pytest.raises(UniqueKeyViolation):
        t.insert({"k": 1, "v": "dup"})
    with pytest.raises(UniqueKeyViolation):
        t.insert_many([{"k": 3}, {"k": 3}])  # batch-internal dup
    assert len(t) == 2  # nothing committed
    t.insert({"k": 3, "v": "z"})
    assert len(t) == 3


def test_create_unique_index_rejects_existing_dups(spark):
    t = Table("d", spark=spark)
    t.insert_many([{"k": 1}, {"k": 1}])
    with pytest.raises(UniqueKeyViolation):
        t.create_index("k", unique=True)


def test_remove_one_occurrence(abc):
    abc.insert({"a": 0, "b": 0, "c": 0})  # now twice
    assert abc.count({"a": 0, "b": 0, "c": 0}) == 2
    abc.remove({"a": 0, "b": 0, "c": 0})
    assert abc.count({"a": 0, "b": 0, "c": 0}) == 1


def test_insert_batch_with_an_all_none_column(spark):
    """A column that is None on every row of a batch has no type to infer:
    it takes the table's type, or string when the column is new."""
    t = Table("nones", spark=spark)
    t.insert_many([{"x": 1, "y": 2}])
    t.insert_many([{"x": 3, "y": None, "z": None}, {"x": 4}])
    types = dict(t.df.dtypes)
    assert (types["y"], types["z"]) == ("bigint", "string")
    t.insert_many([{"y": None}])  # no typed column at all
    assert [(r.x, r.y, r.z) for r in t] == [
        (1, 2, None), (3, None, None), (4, None, None), (None, None, None)
    ]


def test_contains_partial_record_does_not_match(abc):
    # whole-record equality: a partial dict is not "in" the table
    assert {"a": 1} not in abc
    assert abc.count({"a": 1}) == 0


def test_insert_type_conflict_widens_to_string(spark):
    t = Table("w", spark=spark)
    t.insert({"x": 1})
    t.insert({"x": "later-a-string"})
    vals = sorted(str(r.x) for r in t)
    assert vals == ["1", "later-a-string"]


def test_stats(abc):
    st = {r.name: r for r in abc.stats(["a", "b"])}
    assert st["a"].mean == 1.0
    assert st["a"].min == 0.0 and st["a"].max == 2.0
    assert st["a"].count == 27 and st["a"].missing == 0
    assert abs(st["a"].variance - 0.6923076923) < 1e-6


def test_explode_field_outer_and_ordinals(spark):
    t = Table("ex", spark=spark)
    t.insert_many(
        [
            {"id": 1, "xs": [10, 20]},
            {"id": 2, "xs": []},
            {"id": 3, "xs": None},
        ]
    )
    inner = t.explode_field("xs", into="x", pos_into="p")
    assert sorted((r.id, r.p, r.x) for r in inner) == [(1, 0, 10), (1, 1, 20)]
    outer = t.explode_field("xs", into="x", outer=True)
    got = sorted(
        ((r.id, r.x) for r in outer),
        key=lambda v: (v[0], v[1] is not None, v[1] or 0),
    )
    assert got == [(1, 10), (1, 20), (2, None), (3, None)]
