"""Total-order discipline audit (round-5 postmortem, commit a1b41ff).

A non-total ``orderBy`` feeding a row-frame window, ``row_number``, or
``lag``/``lead`` gives engine- and partitioning-dependent answers — the
one bug class that produced a real wrong answer in this repo
(``window_moving_avg`` at sf0.1, where lineitem's deliberately
non-unique (l_orderkey, l_linenumber) pair diverged across engines).

Two tests systematize the discipline:

1. ``test_duplicate_key_census`` pins the data facts the audit relies
   on: which column sets ARE unique per testdata table — including the
   trap, that (l_orderkey, l_linenumber) is NOT one of them.
2. ``test_registry_window_sorts_are_total`` scans the analyzed plan of
   every registry query for ``windowspecdefinition`` nodes and asserts
   each window's partition+sort column set either (a) covers a unique
   keyset from the census, (b) contains a synthetic unique ordinal
   (``__row_ord__`` / ``__asof_ord__``), or (c) appears in the
   documented allowlist of windows whose tied rows are provably
   interchangeable (identical in every column the window output can
   observe).
"""

from __future__ import annotations

import re

import duckdb

from littletable_spark.plans.lint import _balanced_args

SF_CENSUS = "/root/testdata/sf0.01"

#: column sets verified unique by test_duplicate_key_census; a window
#: sort that covers any one of these (partition + order keys combined)
#: is a total order on its input rows.
UNIQUE_KEYSETS: list[tuple[str, tuple[str, ...]]] = [
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
    ("events", ("event_id",)),
    ("events", ("user_id", "ts")),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
]

#: synthetic columns that are unique by construction
SYNTHETIC_UNIQUE = {"__row_ord__", "__asof_ord__"}

#: column sets unique by OPERATOR construction (not a base table):
#: every ANN path (cosine/LSH/IVF top-k) emits each (query_id,
#: corpus_id) pair at most once — brute-force scores each corpus row in
#: exactly one batch, IVF assigns each corpus row to exactly ONE
#: cluster and probes distinct clusters per query, LSH computes exactly
#: one signature per corpus row and per query (similarity.py).
DERIVED_UNIQUE: list[tuple[str, ...]] = [
    ("query_id", "corpus_id"),
]

#: windows whose tied rows are interchangeable: every column the window
#: function reads AND every column the query projects is part of the
#: sort key, so any permutation of a tie group yields the same output
#: multiset. Keyed by query name; value documents the reason.
ALLOW_INTERCHANGEABLE: dict[str, str] = {
    # _shingle_rows (dedup.py): lead() over posexplode position 'p'
    # partitioned by doc id — p is unique within its partition by
    # construction (posexplode emits 0..n-1 per row).
    "dedup_minhash": "lead over posexplode position, unique per doc",
    "dedup_clusters": "lead over posexplode position, unique per doc",
    "dedup_jaccard": (
        "prefix-filter rank over the 64-bit shingle hash — the stream "
        "is distinct per (id, s), so the sort key is unique within its "
        "doc partition by construction"
    ),
    "skew_report": (
        "both windows run over groupBy(col_name, value) output, where "
        "(col_name, value) is unique by construction: the rank sort "
        "(cnt DESC, value) is therefore total within its col_name "
        "partition, and the share sum window is unordered "
        "(full-partition frame, order-insensitive)"
    ),
    # session windows: lag(ts) over (user_id order by ts) — tied rows
    # have EQUAL ts, so every lag difference (the only thing the window
    # reads) is permutation-invariant. Also covered by the (user_id,
    # ts) census row, kept here for the generic-operator argument.
    "events_session": "lag reads only ts; ties have equal ts",
    "url_canon": (
        "count(*) over (partition by canon_url) carries NO order "
        "clause — a full-partition frame is order-insensitive, so "
        "tied rows are trivially interchangeable"
    ),
    "url_schedule": (
        "the sort key ends in TWO independent xxhash64 keys over the "
        "remaining columns (round 12: wide payloads must not enter "
        "the sort; round 13: a second seeded reversed-field hash, so "
        "distinct rows would need a simultaneous 128-bit collision); "
        "rows tied on the ENTIRE key (host, priority, url, hashes) "
        "agree on every hash input column short of that — i.e. "
        "tie groups are identical rows, which swap fetch_at slots "
        "without changing the output multiset. The gate fixture "
        "additionally keeps url unique per host, making the key total "
        "there outright"
    ),
}


def _census_con():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CENSUS}/{t}.parquet')"
        )
    return con


def test_duplicate_key_census():
    """Pin which keysets are unique — and that the lineitem trap is real."""
    con = _census_con()
    for table, keys in UNIQUE_KEYSETS:
        k = ", ".join(keys)
        n, d = con.execute(
            f"SELECT count(*), (SELECT count(*) FROM "
            f"(SELECT DISTINCT {k} FROM {table})) FROM {table}"
        ).fetchone()
        assert n == d, f"{table} ({k}) is not unique: {n} rows, {d} distinct"
    # the trap that round 5's window_moving_avg bug hinged on
    n, d = con.execute(
        "SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT "
        "l_orderkey, l_linenumber FROM lineitem)) FROM lineitem"
    ).fetchone()
    assert d < n, (
        "(l_orderkey, l_linenumber) became unique — the census trap is "
        "gone; re-verify which lineitem keyset the audit should require"
    )


def _window_specs(plan: str) -> list[set[str]]:
    """Extract, for each windowspecdefinition, the set of base attribute
    names referenced by its partition+order expressions."""
    specs = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        args = _balanced_args(plan, m.end() - 1)
        # drop the trailing frame spec; everything before it is
        # partition + sort expressions
        frame = args.rfind("specifiedwindowframe(")
        keys = args[:frame] if frame != -1 else args
        names = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", keys))
        specs.append(names)
    return specs


def test_registry_window_sorts_are_total(registry_frames):
    """Every Window in every registry query's plan must sort by a
    provably-unique key (census keyset or synthetic ordinal) or carry a
    documented interchangeability argument."""
    failures = []
    audited = 0
    for name, df in registry_frames.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        for names in _window_specs(plan):
            audited += 1
            if names & SYNTHETIC_UNIQUE:
                continue
            if any(set(ks) <= names for _, ks in UNIQUE_KEYSETS):
                continue
            if any(set(ks) <= names for ks in DERIVED_UNIQUE):
                continue
            if name in ALLOW_INTERCHANGEABLE:
                continue
            failures.append((name, sorted(names)))
    assert not failures, (
        "windows sorted by a non-total key with no documented "
        f"interchangeability argument: {failures}"
    )
    # the scan must actually be seeing windows, or the regex rotted
    assert audited >= 10, f"only {audited} windows found — parser broken?"
