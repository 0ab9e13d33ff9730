"""Join operators.

Capability parity: ``Table.join`` (inner multi-key equi-join,
littletable.py:2353-2507), ``outer_join`` (left/right/full,
littletable.py:2509-2709), and the ``join_on`` + ``+`` DSL
(littletable.py:2711-2722, 4602-4683).

Spark-first: one ``DataFrame.join`` per step — Catalyst/AQE picks
broadcast vs shuffled-hash vs sort-merge and reorders multi-joins. The
reference's hand-rolled hash-bucket product loop has no analog here.
Scale notes:
- small dimension sides are left to AQE's dynamic broadcast detection;
  callers can force via ``broadcast=True``;
- the reference's "fill join keys on the synthesized side"
  (littletable.py:2668-2678) maps to ``coalesce(l.key, r.key)`` in the
  output projection — identical observable semantics to SQL outer joins.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from ..plans.ordering import ROW_ORD
from ..table import EPOCH, Table

_RPREFIX = "__r__"


def _parse_attrlist(attrlist: Any) -> list[Any] | None:
    if attrlist is None:
        return None
    if isinstance(attrlist, str):
        return attrlist.replace(",", " ").split()
    return list(attrlist)


def _q(name: str) -> str:
    # a quoted reference: column names may hold backticks, spaces or dots
    return "`" + name.replace("`", "``") + "`"


def join_tables(
    left: Table,
    right: Table,
    how: str,
    attrlist: Any,
    key_map: dict[str, str],
    broadcast: bool = False,
) -> Table:
    how = {
        "inner": "inner",
        "left": "left",
        "left_outer": "left",
        "right": "right",
        "right_outer": "right",
        "full": "full",
        "full_outer": "full",
        "outer": "full",
        # reference-parity constants: littletable's LEFT keeps all rows
        # of the OTHER table and RIGHT keeps all rows of SELF (inverted
        # vs SQL — littletable.py:2631-2658), so they compile to the
        # opposite SQL join direction.
        "ref_left": "right",
        "ref_right": "left",
    }[how]
    # empty-side short-circuit, mirroring the reference
    # (littletable.py:2408-2409): joining a schema-less empty table
    # yields an empty table instead of erroring. Inner/one-sided outer
    # joins against a schema-less side can't synthesize its columns, so
    # the surviving side's fields (or none) form the result schema.
    if left._df is None or right._df is None:
        keep = left if left._df is not None and how in ("left", "full") else (
            right if right._df is not None and how in ("right", "full") else None
        )
        if keep is not None:
            return Table.from_df(
                keep._require_df(), name=f"{left.table_name}_join"
            )
        out = Table(name=f"{left.table_name}_join", spark=left.spark)
        return out

    ldf = left._require_df()
    rdf = right._require_df()
    if not key_map:
        common = [c for c in left.fields if c in right.fields]
        if not common:
            raise ValueError("no join keys given and no common columns found")
        key_map = {c: c for c in common}

    # disambiguate by renaming every right column. toDF is ONE py4j
    # round trip for the whole rename where per-column
    # F.col(c).alias(...) is two per column — measured 6 ms vs 51 ms on
    # lineitem's 18 columns, and join construction sits on the timed
    # path of every composite query (guide §1.2: driver-side plan
    # construction is per-invocation work too).
    rdf2 = rdf.toDF(*[_RPREFIX + c for c in rdf.columns])
    if broadcast:
        rdf2 = F.broadcast(rdf2)
    cond = None
    for lk, rk in key_map.items():
        c = ldf[_q(lk)] == rdf2[_q(_RPREFIX + rk)]
        cond = c if cond is None else cond & c
    joined = ldf.join(rdf2, on=cond, how=how)

    # After the rename every right column carries _RPREFIX, so as long
    # as no LEFT column also starts with it, plain-name references are
    # unambiguous and the whole output projection can be ONE
    # selectExpr round trip (9 ms vs 61 ms measured on the 25-column
    # orders x lineitem projection). A left column that itself starts
    # with _RPREFIX (never produced by this engine, but user data is
    # user data) falls back to the dataframe-qualified Column path.
    fast = not any(c.startswith(_RPREFIX) for c in ldf.columns)

    # default projection: left fields, then right fields minus name
    # collisions (reference collision-drop, littletable.py:2481-2486)
    spec = _parse_attrlist(attrlist)
    if fast:
        exprs: list[str] = []
        if spec is None:
            for f in left.fields:
                if f in key_map and how in ("right", "full"):
                    exprs.append(
                        f"coalesce({_q(f)}, {_q(_RPREFIX + key_map[f])})"
                        f" AS {_q(f)}"
                    )
                else:
                    exprs.append(_q(f))
            # the reference keeps every right attribute whose alias
            # doesn't collide with a left alias — including
            # differently-named join keys (littletable.py:2481-2486);
            # only name collisions drop
            for f in right.fields:
                if f in left.fields:
                    continue
                exprs.append(f"{_q(_RPREFIX + f)} AS {_q(f)}")
        else:
            for item in spec:
                if isinstance(item, tuple):
                    tbl, attr, *alias = item
                    out_name = alias[0] if alias else attr
                    src = attr if tbl is left else _RPREFIX + attr
                    exprs.append(f"{_q(src)} AS {_q(out_name)}")
                elif item in left.fields:
                    if item in key_map and how in ("right", "full"):
                        exprs.append(
                            f"coalesce({_q(item)}, "
                            f"{_q(_RPREFIX + key_map[item])}) AS {_q(item)}"
                        )
                    else:
                        exprs.append(_q(item))
                elif item in right.fields:
                    exprs.append(f"{_q(_RPREFIX + item)} AS {_q(item)}")
                else:
                    raise ValueError(f"join output attr {item!r} not found")
        # result order: left order, unmatched-right rows after (big
        # epoch offset)
        exprs.append(
            f"coalesce({_q(EPOCH)}, {_q(_RPREFIX + EPOCH)} + 1000000)"
            f" AS {_q(EPOCH)}"
        )
        exprs.append(
            f"coalesce({_q(ROW_ORD)}, {_q(_RPREFIX + ROW_ORD)})"
            f" AS {_q(ROW_ORD)}"
        )
        # the fast path's premise: after the rename no two joined
        # columns share a name, so every plain-name reference resolves
        assert len(set(joined.columns)) == len(joined.columns), joined.columns
        out = joined.selectExpr(*exprs)
    else:
        out_cols = []
        if spec is None:
            for f in left.fields:
                if f in key_map and how in ("right", "full"):
                    out_cols.append(
                        F.coalesce(ldf[_q(f)], rdf2[_q(_RPREFIX + key_map[f])]).alias(f)
                    )
                else:
                    out_cols.append(ldf[_q(f)].alias(f))
            for f in right.fields:
                if f in left.fields:
                    continue
                out_cols.append(rdf2[_q(_RPREFIX + f)].alias(f))
        else:
            for item in spec:
                if isinstance(item, tuple):
                    tbl, attr, *alias = item
                    out_name = alias[0] if alias else attr
                    if tbl is left:
                        out_cols.append(ldf[_q(attr)].alias(out_name))
                    else:
                        out_cols.append(rdf2[_q(_RPREFIX + attr)].alias(out_name))
                else:
                    if item in left.fields:
                        if item in key_map and how in ("right", "full"):
                            out_cols.append(
                                F.coalesce(ldf[_q(item)], rdf2[_q(_RPREFIX + key_map[item])]).alias(item)
                            )
                        else:
                            out_cols.append(ldf[_q(item)].alias(item))
                    elif item in right.fields:
                        out_cols.append(rdf2[_q(_RPREFIX + item)].alias(item))
                    else:
                        raise ValueError(f"join output attr {item!r} not found")

        # result order: left order, unmatched-right rows after (big epoch offset)
        out_cols.append(
            F.coalesce(ldf[_q(EPOCH)], rdf2[_q(_RPREFIX + EPOCH)] + F.lit(1_000_000)).alias(EPOCH)
        )
        out_cols.append(F.coalesce(ldf[_q(ROW_ORD)], rdf2[_q(_RPREFIX + ROW_ORD)]).alias(ROW_ORD))
        out = joined.select(*out_cols)
    name = f"{left.table_name}:{right.table_name}"
    t = left._derive(out, name=name, keep_sort=False)
    t._clear_sort()
    return t


def salted_join(
    left: Table,
    right: Table,
    left_key: str,
    right_key: str,
    salt: int = 16,
    how: str = "inner",
) -> Table:
    """Skew-resistant equi-join: salt the (large, skewed) left side and
    replicate the right side once per salt value.

    For a hot key holding p% of the left rows, a plain shuffle join puts
    all of them in one task; salting splits them across ``salt`` tasks at
    the cost of a ``salt``-times replicated right side — the classic
    trade when AQE's skew splitting isn't enough (e.g. the skew is in an
    aggregation-feeding join). Same output as a plain join.
    """
    ldf = left._require_df()
    rdf = right._require_df()
    lsalted = ldf.withColumn(
        "__salt__", (F.rand(seed=0) * salt).cast("int")
    )
    rrepl = rdf.select(
        *[F.col(c).alias(_RPREFIX + c) for c in rdf.columns]
    ).withColumn("__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    cond = (lsalted[left_key] == rrepl[_RPREFIX + right_key]) & (
        lsalted["__salt__"] == rrepl["__salt__"]
    )
    joined = lsalted.join(rrepl, on=cond, how=how).drop("__salt__")
    out_cols = [lsalted[c].alias(c) for c in ldf.columns] + [
        rrepl[_RPREFIX + c].alias(c)
        for c in right.fields
        if c != right_key and c not in left.fields
    ]
    t = left._derive(joined.select(*out_cols), keep_sort=False)
    t._clear_sort()
    return t


def asof_join(
    left: Table,
    right: Table,
    left_time: str,
    right_time: str,
    by: dict[str, str] | None = None,
    direction: str = "backward",
    right_cols: list[str] | None = None,
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
) -> Table:
    """As-of join: each left row gets the most recent right row with
    ``right_time <= left_time`` (backward; ``forward`` = nearest later),
    optionally within equal ``by`` keys.

    ``tolerance`` (pandas ``merge_asof`` parity) voids matches farther
    than the given time distance; ``allow_exact_matches=False`` makes
    the comparison strict (``<`` / ``>``). Both are post-fill column
    predicates — no plan-shape change.

    Net-new over the reference (no theta/as-of joins there, SURVEY §2.3).
    Spark lacks a native as-of join; the classic scalable formulation is
    union-the-streams + one window pass: tag rows by side, sort by
    (by, time, side) within one shuffle, and carry the right payload
    forward with ``last(ignorenulls)``. O(n log n) in each partition's
    rows, one shuffle on the by-keys — no range cross-product, no
    per-group pandas.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if tolerance is not None and tolerance < 0:
        raise ValueError("tolerance must be non-negative")
    by = by or {}
    if not by:
        import warnings

        # Window.partitionBy() with no keys collapses to one partition —
        # fine for small tables, a scale hazard otherwise. Keyed use is
        # the designed path; make the degenerate form explicit.
        warnings.warn(
            "asof_join without 'by' keys runs as a single-partition "
            "window; supply by= keys for distributed execution",
            stacklevel=2,
        )
    rcols = right_cols or [
        c
        for c in right.fields
        if c != right_time and c not in by.values()
    ]
    lf = left.df
    # Total-order discipline: two right rows tying on (by, time) would
    # make the last(ignorenulls) fill engine/partition-dependent. Break
    # the tie with the right table's row ordinal — backward keeps the
    # LAST tied right row in table order, forward the FIRST (pandas
    # merge_asof tie semantics). Left-left ties need no break: tied left
    # rows see the identical preceding right set either way.
    ord_col = "__asof_ord__"
    rf = right._require_df()
    if ROW_ORD in rf.columns:
        rf = rf.select(*right.fields, F.col(ROW_ORD).alias(ord_col))
    else:
        rf = rf.select(*right.fields).withColumn(
            ord_col, F.monotonically_increasing_id()
        )
    if tolerance is not None:
        # carry the matched right row's time through the fill so the
        # tolerance predicate can see it
        rf = rf.withColumn("__rt__", F.col(right_time).cast("double"))
        rcols = list(rcols) + ["__rt__"]

    # align the union schema: left keeps its columns, right contributes
    # (by keys renamed to left's, the time col, payload cols)
    time_col = "__t__"
    side_col = "__side__"
    # plain names pass through as strings (resolved JVM-side in the one
    # select call) — a py4j round trip per column saved on a hot builder
    left_part = lf.select(
        *left.fields,
        F.col(left_time).cast("double").alias(time_col),
        F.lit(1).alias(side_col),
        F.lit(0).cast("long").alias(ord_col),
        *[F.lit(None).cast(rf.schema[c].dataType).alias(f"__r_{c}") for c in rcols],
    )
    right_part = rf.select(
        *[
            F.col(rk).alias(lk) if (lk != rk) else F.col(rk)
            for lk, rk in by.items()
        ],
        *[F.lit(None).cast(lf.schema[c].dataType).alias(c) for c in left.fields if c not in by],
        F.col(right_time).cast("double").alias(time_col),
        F.lit(0).alias(side_col),
        F.col(ord_col).cast("long").alias(ord_col),
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
    ).select(*[c for c in left_part.columns])

    unioned = left_part.unionByName(right_part)
    part_keys = [F.col(k) for k in by.keys()]
    # with exact matches allowed a right row at the same instant sorts
    # BEFORE the left row (side asc: 0 < 1) and is therefore visible to
    # the fill; strict mode sorts it after, so only strictly earlier
    # (later, for forward) right rows are seen — semantics by sort order,
    # no extra pass
    side_order = (
        F.col(side_col).asc() if allow_exact_matches else F.col(side_col).desc()
    )
    if direction == "backward":
        # time asc: the latest tied right row must sort LAST in its tie
        # group (nearest the left rows that follow) -> ord asc
        w = (
            Window.partitionBy(*part_keys)
            .orderBy(F.col(time_col).asc(), side_order, F.col(ord_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned.select(
            "*",
            *[
                F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}")
                for c in rcols
            ],
        )
    else:
        # time desc: the EARLIEST tied right row (pandas forward tie
        # winner) must sort last in its tie group -> ord desc
        w = (
            Window.partitionBy(*part_keys)
            .orderBy(F.col(time_col).desc(), side_order, F.col(ord_col).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = unioned.select(
            "*",
            *[
                F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}")
                for c in rcols
            ],
        )
    lefts = filled.filter(F.col(side_col) == 1)
    if tolerance is not None:
        dist = F.abs(F.col(time_col) - F.col("__f___rt__"))
        valid = F.col("__f___rt__").isNotNull() & (dist <= F.lit(float(tolerance)))
        out = lefts.select(
            *left.fields,
            *[
                F.when(valid, F.col(f"__f_{c}")).alias(c)
                for c in rcols
                if c != "__rt__"
            ],
        )
    else:
        out = lefts.select(
            *left.fields,
            *[F.col(f"__f_{c}").alias(c) for c in rcols],
        )
    return Table.from_df(out, name=f"{left.table_name}_asof_{right.table_name}")


def range_join(
    left: "Table",
    right: "Table",
    point_col: str,
    lo_col: str,
    hi_col: str,
    by: dict[str, str] | None = None,
    bucket_width: float | None = None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = True,
) -> "Table":
    """Point-in-interval join: each left row pairs with every right row
    whose ``[lo_col, hi_col]`` interval contains ``point_col`` (bound
    inclusivity configurable), optionally within equal ``by`` keys.

    Net-new over the reference (no theta joins there, SURVEY §2.3) and
    over stock Spark, which plans a raw range predicate as a nested-loop
    join. With ``bucket_width`` the interval side explodes to the fixed-
    width bins it spans and the point side computes its single bin, so
    the join becomes an equi-join on (by, bin) with the range predicate
    as a cheap post-filter — the standard binning rewrite. Each point
    lands in exactly one bin, so no dedup pass is needed. Pick
    ``bucket_width`` near the typical interval length: much smaller
    multiplies interval replicas, much larger multiplies false
    candidates.

    Without ``bucket_width`` the plain theta join runs (broadcast
    nested-loop — fine only when one side is small).
    """
    from ..table import Table

    by = by or {}
    lf = left.df
    rf = right.df
    point = F.col(point_col)
    lo, hi = F.col(lo_col), F.col(hi_col)
    lo_ok = (lo <= point) if lo_inclusive else (lo < point)
    hi_ok = (point <= hi) if hi_inclusive else (point < hi)
    on = [F.col(f"l.{lk}") == F.col(f"r.{rk}") for lk, rk in by.items()]
    if bucket_width is not None:
        if bucket_width <= 0:
            raise ValueError("bucket_width must be positive")
        w = float(bucket_width)
        lf = lf.withColumn("__bin__", F.floor(point / F.lit(w)))
        rf = rf.withColumn(
            "__bin__",
            F.explode(F.sequence(F.floor(lo / F.lit(w)), F.floor(hi / F.lit(w)))),
        )
        on = on + [F.col("l.__bin__") == F.col("r.__bin__")]
    la, ra = lf.alias("l"), rf.alias("r")
    cond = [*on, lo_ok, hi_ok] if on else (lo_ok & hi_ok)
    joined = la.join(ra, on=cond, how="inner")
    keep = [F.col(f"l.{c}") for c in left.fields] + [
        F.col(f"r.{c}") for c in right.fields if c not in by.values()
    ]
    out = joined.select(*keep)
    return Table.from_df(out, name=f"{left.table_name}_range_{right.table_name}")


class JoinTerm:
    """Composable join expression: ``a.join_on("x") + b.join_on("y")``.

    Mirrors littletable.py:2711-2722 / 4602-4683: ``+`` chains terms
    left-associatively; calling the chain executes the joins.
    """

    def __init__(self, table: Table, attr: str, join_type: str = "inner") -> None:
        self.table = table
        self.attr = attr
        self.join_type = join_type

    def __add__(self, other: Any) -> "JoinChain":
        if isinstance(other, JoinTerm):
            return JoinChain([self, other])
        if isinstance(other, Table):
            # bare table adopts the left term's join attribute
            return JoinChain([self, JoinTerm(other, self.attr)])
        return NotImplemented


class JoinChain:
    def __init__(self, terms: list[JoinTerm]) -> None:
        self.terms = terms

    def __add__(self, other: Any) -> "JoinChain":
        if isinstance(other, JoinTerm):
            return JoinChain(self.terms + [other])
        if isinstance(other, Table):
            return JoinChain(self.terms + [JoinTerm(other, self.terms[-1].attr)])
        return NotImplemented

    def __call__(self, attrlist: Any = None) -> Table:
        acc = self.terms[0].table
        for i, term in enumerate(self.terms[1:]):
            # first hop joins left term's attr to right term's attr; later
            # hops join on the new term's attr, which the accumulated result
            # must expose (reference fold semantics, littletable.py:4638-4668)
            if i == 0:
                left_key = self.terms[0].attr
            elif term.attr in acc.fields:
                left_key = term.attr
            else:
                raise ValueError(
                    f"join chain attr {term.attr!r} not present in accumulated result"
                )
            acc = join_tables(
                acc, term.table, term.join_type, None, {left_key: term.attr}
            )
        if attrlist is not None:
            return acc.select(attrlist)
        return acc
