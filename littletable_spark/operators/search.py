"""Full-text search: inverted index + query DSL.

Behavioral parity with the reference's search engine
(littletable.py:1701-1942 build/maintenance, 1780-1917 query DSL,
637-681 accessor): per-attribute inverted index over the normalizer's
terms (functions/normalize.py), and the ``++ -- + -`` query grammar with
the reference's exact keyword bookkeeping —

- every normalized *variant* of a query term is its own scoring keyword
  worth +1000 (``+``/``++``), -1000 (``-``), or +100 (bare), deduplicated
  across the query by keyword, with ``+x`` cancelling an earlier ``-x``
  and vice versa (littletable.py:1813-1846);
- a bare keyword's significant-suffix variant does not score
  (littletable.py:1843-1845);
- ``++`` groups are conjunctive: a row must hit at least one variant of
  every required group; a required group with zero corpus hits empties
  the result; when every group hits but no row satisfies all of them,
  the reference applies no required filter at all — all three cases are
  reproduced (littletable.py:1852-1863);
- ``--`` rows are removed before scoring; ``min_score`` defaults to 0 so
  negative-only matches drop out (littletable.py:1866-1884).

Spark-first design:
- the index is a derived DataFrame ``(epoch, row_ord[, row_sub], word)``
  built with an Arrow-batched pandas UDF + ``explode`` — embarrassingly
  parallel, persisted for repeated queries;
- a query broadcast-joins a tiny keyword table against the index and
  aggregates scores per row — one shuffle on the row key, no driver-side
  scan of table data (the only collects are one-row aggregates for the
  required-group cardinality rules).
"""

from __future__ import annotations

import shlex
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as SQLT

from ..functions.normalize import (
    SIGNIFICANT_ENDING_RE,
    STOPWORDS,
    normalize_query_term,
    normalize_text,
)
from ..plans.ordering import ROW_ORD, ROW_SUB
from ..session import small_df

BARE_WEIGHT = 100
PREFER_WEIGHT = 1000
NONPREFER_WEIGHT = -1000


class SearchIndex:
    def __init__(
        self, attr: str, index_df: DataFrame, version: int, stopwords: frozenset[str]
    ) -> None:
        self.attr = attr
        self.index_df = index_df
        self.version = version
        self.normalize = True
        self.stopwords = stopwords

    @classmethod
    def build(
        cls,
        table,
        attr: str,
        stopwords: Iterable[str] | None = None,
        normalize: bool = True,
    ) -> "SearchIndex":
        from ..table import EPOCH

        # a user-supplied stopword list REPLACES the default, it does not
        # extend it (littletable.py:1762-1766)
        sw = STOPWORDS if stopwords is None else frozenset(stopwords)
        text = F.col(attr).cast("string")
        if normalize:

            @F.pandas_udf(SQLT.ArrayType(SQLT.StringType()))
            def terms_of(texts: pd.Series) -> pd.Series:
                return texts.map(lambda t: normalize_text(t or "", sw))

            words = terms_of(text)
        else:
            # raw mode: lowercase whitespace tokens, no linguistic
            # normalization — fully native (and SQL-reproducible)
            toks = F.filter(
                F.split(F.trim(F.lower(text)), r"\s+"), lambda x: x != F.lit("")
            )
            if stopwords:
                stop_arr = F.array(*[F.lit(s) for s in sorted(sw)])
                toks = F.filter(toks, lambda x: ~F.array_contains(stop_arr, x))
            words = F.array_distinct(toks)

        # key rows by (epoch, row_ord): row_ord alone is only unique
        # within one insert batch, and the copies of a row in a
        # one-to-many join output differ only in row_sub
        src = table._require_df()
        keys = [EPOCH, ROW_ORD] + ([ROW_SUB] if ROW_SUB in src.columns else [])
        df = src.select(*keys, F.explode(words).alias("word"))
        # the index owns this cache for its lifetime; the public
        # SearchIndex.unpersist (delete_search_index) releases it
        index_df = df.persist()
        idx = cls(attr, index_df, table._version, sw)
        idx.normalize = normalize
        return idx

    def unpersist(self) -> None:
        try:
            self.index_df.unpersist()
        except Exception:
            pass


def _join_rows(left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner"):
    """``left`` joined to ``right`` on the row key, keeping ``left``'s key
    columns. ``__row_sub__`` compares null-safely: rows inserted after a
    join hold a null one."""
    renamed = {k: f"__rk_{k}" for k in keys}
    right = right.withColumnsRenamed(renamed)
    on = [
        left[k].eqNullSafe(right[r]) if k == ROW_SUB else left[k] == right[r]
        for k, r in renamed.items()
    ]
    return left.join(right, on, how).drop(*renamed.values())


def parse_query(query: str) -> list[tuple[str, str]]:
    """Split a query into (mode, term): mode in {required, excluded,
    prefer, nonprefer, bare}. Quoting via shlex (littletable.py:1810)."""
    out: list[tuple[str, str]] = []
    for raw in shlex.split(query.strip()):
        if raw.startswith("++"):
            out.append(("required", raw[2:]))
        elif raw.startswith("--"):
            out.append(("excluded", raw[2:]))
        elif raw.startswith("+"):
            out.append(("prefer", raw[1:]))
        elif raw.startswith("-"):
            out.append(("nonprefer", raw[1:]))
        else:
            out.append(("bare", raw))
    return [(m, t) for m, t in out if t]


def compile_query(
    query: str, normalize: bool, stopwords: frozenset[str] = STOPWORDS
) -> tuple[dict[str, int], list[str], list[list[str]]]:
    """Reduce a query string to the reference's keyword bookkeeping
    (littletable.py:1813-1846): a keyword -> weight map, the excluded
    keyword list, and the required variant groups. Pure driver-side
    computation over the query text only — also used to build the
    driver-contract oracle SQL."""
    plus: dict[str, bool] = {}
    minus: dict[str, bool] = {}
    opt: dict[str, bool] = {}
    excluded: list[str] = []
    groups: list[list[str]] = []

    def variants(term: str) -> list[str]:
        if normalize:
            return normalize_query_term(term, stopwords)
        t = term.lower().strip()
        return [t] if t else []

    for mode, term in parse_query(query):
        term = term.lower()
        kwds = variants(term)
        if mode == "required":
            groups.append(kwds)
            for kwd in kwds:
                plus.setdefault(kwd, True)
        elif mode == "excluded":
            excluded.extend(kwds)
        elif mode == "prefer":
            for kwd in kwds:
                minus.pop(kwd, None)
                plus.setdefault(kwd, True)
        elif mode == "nonprefer":
            for kwd in kwds:
                plus.pop(kwd, None)
                minus.setdefault(kwd, True)
        else:
            sig = SIGNIFICANT_ENDING_RE.match(term)
            for kwd in kwds:
                if sig and kwd == sig[1]:
                    continue
                if kwd in plus or kwd in minus:
                    continue
                opt.setdefault(kwd, True)

    weights: dict[str, int] = {}
    for kwd in plus:
        weights[kwd] = weights.get(kwd, 0) + PREFER_WEIGHT
    for kwd in minus:
        weights[kwd] = weights.get(kwd, 0) + NONPREFER_WEIGHT
    for kwd in opt:
        weights[kwd] = weights.get(kwd, 0) + BARE_WEIGHT
    return weights, excluded, groups


class SearchAccessor:
    """``table.search.<attr>(query, ...)`` (littletable.py:637-681)."""

    def __init__(self, table) -> None:
        self._table = table

    def __getattr__(self, attr: str):
        if attr.startswith("_"):
            raise AttributeError(attr)
        table = self._table

        def run(
            query: str,
            limit: int | None = None,
            min_score: int = 0,
            include_words: bool = False,
            as_table: bool = True,
        ):
            return search(table, attr, query, limit, min_score, include_words, as_table)

        return run


def search(
    table,
    attr: str,
    query: str,
    limit: int | None = None,
    min_score: int | None = 0,
    include_words: bool = False,
    as_table: bool = True,
):
    idx: SearchIndex = table._get_search_index(attr)
    spark = table.spark
    weights, excluded, groups = compile_query(query, idx.normalize, idx.stopwords)

    if not weights and not groups:
        empty = table._require_df().limit(0)
        return table._derive(empty) if as_table else []

    index_df = idx.index_df
    keys = [c for c in index_df.columns if c != "word"]

    # required-group cardinality rules (littletable.py:1852-1863): a group
    # with zero corpus hits empties the result; groups that all hit but
    # are jointly unsatisfiable disable the required filter entirely.
    apply_required = False
    if groups:
        group_rows = [
            {"word": w, "gid": gi} for gi, g in enumerate(groups) for w in g
        ]
        gdf = F.broadcast(
            small_df(spark, group_rows, "word string, gid long")
        )
        ghits = index_df.join(gdf, on="word")
        # one job for both coverage statistics: per-row distinct-gid sets
        # (each bounded by len(groups), so the explode below is cheap at
        # any corpus size), then global max row-coverage + distinct gids
        per_row_g = ghits.groupBy(*keys).agg(
            F.collect_set("gid").alias("__g__")
        )
        summary = (
            per_row_g.select(
                F.size("__g__").alias("__gh__"), F.explode("__g__").alias("gid")
            )
            .agg(
                F.max("__gh__").alias("max_gh"),
                F.count_distinct("gid").alias("gids_hit"),
            )
            .collect()[0]
        )
        if (summary["gids_hit"] or 0) < len(groups):
            empty = table._require_df().limit(0)
            return table._derive(empty) if as_table else []
        per_row = per_row_g.select(*keys, F.size("__g__").alias("__gh__"))
        apply_required = (summary["max_gh"] or 0) == len(groups)

    weight_rows = [{"word": w, "weight": wt} for w, wt in weights.items()]
    if weight_rows:
        wdf = F.broadcast(
            small_df(spark, weight_rows, "word string, weight long")
        )
        scored = (
            index_df.join(wdf, on="word")
            .groupBy(*keys)
            .agg(F.sum("weight").alias("__score__"))
        )
    else:
        scored = (
            index_df.select(*keys)
            .limit(0)
            .withColumn("__score__", F.lit(0).cast("long"))
        )

    if apply_required:
        scored = _join_rows(
            scored,
            per_row.filter(F.col("__gh__") == F.lit(len(groups))).select(*keys),
            keys,
        )
    if excluded:
        edf = F.broadcast(
            small_df(
                spark,
                [{"word": w} for w in dict.fromkeys(excluded)],
                "word string",
            )
        )
        excl_rows = index_df.join(edf, on="word").select(*keys).distinct()
        scored = _join_rows(scored, excl_rows, keys, "left_anti")

    if min_score is not None:
        scored = scored.filter(F.col("__score__") >= F.lit(min_score))

    rows_df = _join_rows(
        table._require_df(), scored.select(*keys, "__score__"), keys
    )
    score_col = f"{attr}_search_score"
    words_col = f"{attr}_search_words"
    rows_df = rows_df.withColumn(score_col, F.col("__score__")).drop("__score__")
    if include_words:
        # reference semantics: ALL of the row's index terms, sorted
        # (littletable.py:1888-1895), not just the matched ones
        row_words = index_df.groupBy(*keys).agg(
            F.array_sort(F.collect_set("word")).alias(words_col)
        )
        rows_df = _join_rows(rows_df, row_words, keys, "left")
        rows_df = rows_df.withColumn(
            words_col,
            F.coalesce(F.col(words_col), F.array().cast("array<string>")),
        )
    rows_df = rows_df.orderBy(F.col(score_col).desc(), F.col(ROW_ORD).asc())
    if limit is not None:
        rows_df = rows_df.limit(limit)
    result = table._derive(rows_df, keep_sort=False)
    result._sort = [(score_col, False)]
    if as_table:
        return result
    out = []
    for ns in result:
        score = getattr(ns, score_col)
        out.append((ns, score))
    return out
