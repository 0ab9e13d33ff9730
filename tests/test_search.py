"""Full-text search: normalizer behavior and query DSL scoring weights
(reference littletable.py:1616-1699, 1781-1917; tests unit_tests.py:3330-3510)."""

import pytest

from littletable_spark import Table
from littletable_spark.exceptions import SearchIndexInconsistentError
from littletable_spark.functions.normalize import (
    normalize_query_term,
    normalize_text,
)


def test_normalizer_stopwords_and_case():
    assert normalize_text("The Quick & the dead") == ["quick", "dead"]


def test_normalizer_plurals():
    # reference yields the singular AND the original word
    # (littletable.py:1655-1660)
    assert normalize_query_term("tables") == ["table", "tables"]
    assert normalize_query_term("boxes") == ["box", "boxes"]
    assert normalize_query_term("cities") == ["city", "cities"]
    assert normalize_query_term("children") == ["child", "children"]
    assert normalize_query_term("glass") == ["glass"]  # not a plural
    assert normalize_query_term("series") == ["series"]  # looks-like-plural


def test_normalizer_acronyms():
    # dot-collapsed acronym plus the raw dotted token (littletable.py:1685-1691)
    assert normalize_query_term("I.B.M.") == ["ibm", "i.b.m."]


def test_normalizer_hyphen_split():
    # hyphenated tokens yield their parts and themselves; snake_case is
    # left intact (littletable.py:1680-1693)
    assert normalize_text("hash-join snake_case") == [
        "hash",
        "join",
        "hash-join",
        "snake_case",
    ]


def test_normalizer_significant_suffixes():
    terms = normalize_text("TimeoutError raised")
    assert "timeouterror" in terms and "error" in terms


@pytest.fixture()
def journal(spark):
    t = Table("journal", spark=spark)
    t.insert_many(
        [
            {"id": 0, "entry": "the quick brown fox jumps over lazy dogs"},
            {"id": 1, "entry": "spark merge join strategies for big tables"},
            {"id": 2, "entry": "slow merge sort on tiny tables"},
            {"id": 3, "entry": "vector search with embeddings"},
            {"id": 4, "entry": "merge conflicts are annoying"},
        ]
    )
    t.create_search_index("entry")
    return t


def test_search_bare_word_scores_100(journal):
    res = journal.search.entry("fox", as_table=False)
    assert len(res) == 1
    ns, score = res[0]
    assert ns.id == 0 and score == 100


def test_search_prefer_weight(journal):
    res = journal.search.entry("+merge tables", as_table=False)
    scores = {ns.id: s for ns, s in res}
    # bare 'tables' expands to two scoring keywords (table, tables), each
    # worth 100 per the reference's per-variant tally:
    # id1/id2: merge(1000) + table(100) + tables(100) = 1200; id4: 1000
    assert scores[1] == 1200 and scores[2] == 1200 and scores[4] == 1000


def test_search_nonprefer_weight(journal):
    # default min_score=0 drops negative-only matches (littletable.py:1879-1884)
    res = journal.search.entry("merge -slow", as_table=False)
    scores = {ns.id: s for ns, s in res}
    assert scores == {1: 100, 4: 100}
    res2 = journal.search.entry("merge -slow", min_score=-2000, as_table=False)
    scores2 = {ns.id: s for ns, s in res2}
    assert scores2[2] == 100 - 1000  # matched merge(+100) and slow(-1000)


def test_search_required_excluded(journal):
    res = journal.search.entry("++merge --slow", as_table=False)
    ids = {ns.id for ns, _ in res}
    assert ids == {1, 4}  # must contain merge, must not contain slow


def test_search_min_score_and_limit(journal):
    res = journal.search.entry("merge tables", min_score=150, as_table=False)
    assert {ns.id for ns, _ in res} == {1, 2}
    res2 = journal.search.entry("merge tables", limit=1, as_table=False)
    assert len(res2) == 1


def test_search_as_table_adds_score_column(journal):
    t = journal.search.entry("merge", include_words=True)
    assert "entry_search_score" in t.fields
    assert "entry_search_words" in t.fields
    assert all(r.entry_search_score == 100 for r in t)


def test_search_plural_normalization_matches(journal):
    # query 'table' matches docs containing 'tables'
    res = journal.search.entry("table", as_table=False)
    assert {ns.id for ns, _ in res} == {1, 2}


def test_search_index_using_concatenated_fields(spark):
    t = Table("multi", spark=spark)
    t.insert_many(
        [
            {"id": 0, "title": "spark tuning", "body": "partitions and shuffles"},
            {"id": 1, "title": "cooking", "body": "spark of flavor"},
        ]
    )
    # using= synthesizes a combined search field (littletable.py:1742-1750)
    t.create_search_index("content", using="title body")
    res = t.search.content("shuffle", as_table=False)
    assert [ns.id for ns, _ in res] == [0]
    res2 = t.search.content("spark", as_table=False)
    assert {ns.id for ns, _ in res2} == {0, 1}


def test_stale_index_raises(journal):
    journal.insert({"id": 9, "entry": "new row invalidates the index"})
    with pytest.raises(SearchIndexInconsistentError):
        journal.search.entry("merge")
    journal.rebuild_search_index("entry")
    assert len(journal.search.entry("merge")) == 3


def test_search_scores_each_copy_of_a_joined_row(spark):
    """A one-to-many join repeats a left row's (epoch, row_ord) on every
    copy; the index keys rows by __row_sub__ too, so each copy keeps its
    own words and score. A row inserted after the join (null
    __row_sub__) is found through the same null-safe key."""
    left = Table("l", spark=spark)
    left.insert_many([{"k": 1, "name": "x"}])
    right = Table("r", spark=spark)
    right.insert_many([{"k": 1, "txt": "apple pie"}, {"k": 1, "txt": "banana split"}])
    j = left.join(right, k="k")
    j.create_search_index("txt")
    res = j.search.txt("apple", include_words=True, as_table=False)
    assert [(ns.txt, ns.txt_search_words, s) for ns, s in res] == [
        ("apple pie", ["apple", "pie"], 100)
    ]

    j.insert({"k": 2, "name": "y", "txt": "apple tart"})
    j.rebuild_search_index("txt")
    res = j.search.txt("apple", include_words=True, as_table=False)
    assert sorted((ns.txt, ns.txt_search_words, s) for ns, s in res) == [
        ("apple pie", ["apple", "pie"], 100),
        ("apple tart", ["apple", "tart"], 100),
    ]
