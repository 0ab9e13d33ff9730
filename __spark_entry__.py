"""Driver contract for the spark-graft builder (PySpark target).

Every query below exercises the ``littletable_spark`` public API (not raw
Spark) so the correctness gate covers the engine's operators from
SURVEY.md §2. Each has a DuckDB oracle in ``oracle_sql`` unless the
operation is not SQL-expressible (noted per query).

Determinism notes:
- aggregates over doubles are rounded in BOTH engines so summation-order
  float drift cannot flip the value hash;
- timestamps are compared via epoch seconds (TZ-independent in both
  Spark and DuckDB) rather than rendered timestamps.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from littletable_spark import Table
from littletable_spark.session import small_df
from littletable_spark.sources.parquet_io import read_parquet


_TABLE_CACHE: dict[tuple[str, str], Table] = {}


def _psl_in_list() -> str:
    """The url_features public-suffix snapshot as a SQL IN-list — built
    from the operator's own tuple so Spark and the DuckDB oracle can
    never disagree on which suffixes are two-level."""
    from littletable_spark.operators.urlops import COMMON_TWO_LEVEL_SUFFIXES

    return ", ".join(f"'{s}'" for s in COMMON_TWO_LEVEL_SUFFIXES)


def _track_re() -> str:
    """canonicalize_urls' tracking-param regex, verbatim, for the
    DuckDB oracle (engine-portable: no lookaround, anchored)."""
    from littletable_spark.operators.urlops import TRACKING_PARAM_RE

    return TRACKING_PARAM_RE


def _host_sql(url_expr: str) -> str:
    """DuckDB SQL for the shared host chain (urlops.host_sql) — ONE
    definition in the operator module, composed here so the oracles
    can never drift from the Spark-side host extraction (incl. the
    round-13 bracketed-IPv6 widening)."""
    from littletable_spark.operators.urlops import host_sql

    return host_sql(url_expr)


def _hostport_sql(url_expr: str) -> str:
    """DuckDB SQL for urlops.hostport_of (lowercased, userinfo
    stripped; IPv6 brackets and any explicit port still attached)."""
    from littletable_spark.operators.urlops import hostport_sql

    return hostport_sql(url_expr)


def _earliest_match_sql(html_expr: str, pats) -> str:
    """DuckDB twin of urlops._earliest_match: group-1 of whichever
    pattern's first match occurs earliest in the document (full-match
    position via strpos ≡ Spark instr; ties on match text then href).
    NULL when nothing matches."""
    def q(s: str) -> str:
        return s.replace("'", "''")

    entries = ", ".join(
        "{'pos': strpos(%s, regexp_extract(%s, '%s', 0)), "
        "'m': regexp_extract(%s, '%s', 0), "
        "'href': regexp_extract(%s, '%s', 1)}"
        % (html_expr, html_expr, q(p), html_expr, q(p), html_expr, q(p))
        for p in pats
    )
    return f"list_sort(list_filter([{entries}], x -> x.m <> ''))[1].href"


_PAYLOAD_ROWS_PER_TASK = 512


def _cache_fanout(spark: SparkSession, path: str, n_rows: int) -> int:
    """Target partition count for a cached bench base table (see the
    regime comment in ``_t``): payload tables (>= 64 compressed
    bytes/row) spread at ``_PAYLOAD_ROWS_PER_TASK`` rows/task so
    per-row-heavy regex/BLAS/Arrow stages parallelize; narrow
    relational tables keep the 20k-rows heuristic (codegen scans
    them at memory speed — extra partitions are pure task overhead).
    Both cap at defaultParallelism, so the driver's lower-core bench
    scales proportionally."""
    import os

    try:
        size = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        )
    except OSError:
        size = 0
    width = size / max(n_rows, 1)
    rpt = _PAYLOAD_ROWS_PER_TASK if width >= 64 else 20_000
    return max(1, min(spark.sparkContext.defaultParallelism, n_rows // rpt))


def _t(spark: SparkSession, sf_dir: str, name: str) -> Table:
    """Load a test table. With SPARK_GRAFT_CACHE_TABLES=1 (set by
    bench.py) base tables are persisted and reused across queries — the
    steady-state analogue of the reference engine holding its tables in
    memory; correctness runs load fresh."""
    path = f"{sf_dir}/{name}.parquet"
    return _load(
        spark, (sf_dir, name), name, path,
        lambda: Table.parquet_import(spark, path, name),
    )


def _ev(spark: SparkSession, sf_dir: str):
    """events via the timestamp-adaptive loader, cached like _t under
    SPARK_GRAFT_CACHE_TABLES so the events queries measure steady-state
    like every other bench query instead of re-reading parquet."""
    from littletable_spark.streaming import load_events

    path = f"{sf_dir}/events.parquet"
    return _load(
        spark, (sf_dir, "__events__"), "events", path,
        lambda: load_events(spark, path),
    )


def _load(spark: SparkSession, key, name: str, path: str, load) -> Table:
    """``load()``, or under SPARK_GRAFT_CACHE_TABLES=1 one persisted
    load per ``key``, held for the process (the bench's base tables)."""
    import os

    from littletable_spark.session import apply_runtime_confs

    # the driver hands us ITS session; make sure the load-bearing Arrow
    # batching confs apply to it too (memoized — near-free per call)
    apply_runtime_confs(spark)
    if os.environ.get("SPARK_GRAFT_CACHE_TABLES") != "1":
        return load()
    if key not in _TABLE_CACHE:
        t = load()
        df = t._require_df()
        # single-file parquet often scans as 1-3 splits; widen the
        # cached layout so CPU-heavy stages get real fan-out — but
        # only for PAYLOAD tables. Two measured regimes (cal-matched
        # A/B/A brackets, 32 and 8 cores):
        #  - wide rows (documents ~120 compressed B/row of text,
        #    embeddings ~400 B/row of vectors) feed per-row-heavy
        #    regex/BLAS/Arrow stages: cached as 1 partition they
        #    serialize stage 1 of every consumer (guide §2.5), so
        #    spread them — 512 rows/task is the sweet spot (a
        #    64/256/512/1024 sweep: 64 rows/task made every
        #    mapInPandas row 1.5-3x SLOWER — a Python-worker round
        #    trip per ~65-row batch — dedup_semantic_incr
        #    1.85->1.16 s, sim_f32_topk 0.54->0.35; plateau past
        #    512).
        #  - narrow relational rows (orders/customer/lineitem/
        #    events, ~20 B/row) are consumed at codegen scan speed:
        #    fanning them out only buys task overhead (asof_join
        #    1.29->0.84, window_topk_per_group 0.55->0.27,
        #    events_session 0.67->0.51 at the old 20k-rows layout
        #    vs 512) — keep the 20k-rows-per-task heuristic.
        # The regime split keys on compressed bytes/row (>= 64)
        # from the parquet footprint — a data property, not a table
        # whitelist, so it holds at any scale factor. ROW_ORD is
        # already attached (computed map-side, pre-shuffle) so
        # positional semantics are unchanged.
        n_rows = df.count()
        target = _cache_fanout(spark, path, n_rows)
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
            t._df = df
        df.persist()
        _TABLE_CACHE[key] = t
    # derive a fresh handle so per-query mutations (orderby, indexes)
    # don't leak across queries through the shared cached table
    cached = _TABLE_CACHE[key]
    return cached._derive(cached._require_df(), name=name, keep_sort=False)


# --------------------------------------------------------------------- #
# §2.2 projections / filters / predicates


def q_where_comparators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """where() with gt/between/eq comparators -> select projection."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.where(
        l_quantity=Table.gt(30.0),
        l_discount=Table.between(0.01, 0.08),
        l_returnflag="N",
    ).select("l_orderkey l_linenumber l_quantity l_discount l_extendedprice")
    return out.df


_PRED_BRANDS = ["Brand#2", "Brand#4", "Brand#9", "Brand#16", "Brand#19", "Brand#25"]


def q_where_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_in / startswith / within comparators on part (predicates sized
    to return a non-trivial row set at sf0.01 — a 0-row hash match
    carries no signal)."""
    p = _t(spark, sf_dir, "part")
    out = p.where(
        p_brand=Table.is_in(_PRED_BRANDS),
        p_name=Table.startswith("s"),
        p_size=Table.within(5, 45),
    ).select("p_partkey p_name p_brand p_size")
    return out.df


def q_select_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select() with a computed column (native expression, no UDF)."""
    p = _t(spark, sf_dir, "part")
    out = p.select(
        "p_partkey p_retailprice p_size",
        inventory_value=F.round(F.col("p_retailprice") * F.col("p_size"), 2),
    )
    return out.df


def q_compute_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_field (add_field) derived column + where on it."""
    li = _t(spark, sf_dir, "lineitem")
    # no round(): the scalar double expression is bit-identical across
    # engines; rounding functions differ in tie handling
    li.compute_field("net_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    out = li.where(net_price=Table.gt(50000.0)).select(
        "l_orderkey l_linenumber net_price"
    )
    return out.df


def q_splitby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splitby -> the matching side (high-value orders)."""
    o = _t(spark, sf_dir, "orders")
    _, high = o.splitby(o_totalprice=Table.ge(100000.0))
    return high.select("o_orderkey o_totalprice o_orderpriority").df


def q_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delete() filtered rows in place; return the survivors."""
    o = _t(spark, sf_dir, "orders")
    o.delete(o_orderstatus="F")
    return o.select("o_orderkey o_orderstatus o_totalprice").df


def q_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderby + unique(): keep-first dedup in sorted table order."""
    li = _t(spark, sf_dir, "lineitem")
    li.orderby("l_orderkey, l_linenumber")
    out = li.unique(key="l_orderkey").select("l_orderkey l_linenumber")
    return out.df


# --------------------------------------------------------------------- #
# §2.3 joins


def q_join_3way_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue per market segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = c.join(o, **{"c_custkey": "o_custkey"}).join(li, **{"o_orderkey": "l_orderkey"})
    out = j.groupby_with_summaries(
        "c_mktsegment",
        revenue=F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2),
        n_items=F.count(F.lit(1)),
    )
    return out.df


def q_outer_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join keeping customers with zero orders. In the reference's
    (inverted vs SQL) naming that is RIGHT_OUTER_JOIN: its key universe
    comes from self, so all of self's (customer's) rows survive —
    unit_tests.py:1768-1774 uses exactly this to find unregistered
    students. The oracle is the equivalent SQL LEFT JOIN."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.outer_join(Table.RIGHT_OUTER_JOIN, o, **{"c_custkey": "o_custkey"})
    out = j.groupby_with_summaries(
        "c_custkey",
        n_orders=F.count(F.col("o_orderkey")),
        total_spend=F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2),
    )
    return out.df


def q_outer_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL outer join nation ⟗ supplier (unmatched nations survive)."""
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    j = n.outer_join(Table.FULL_OUTER_JOIN, s, **{"n_nationkey": "s_nationkey"})
    return j.select("n_nationkey n_name s_suppkey s_name").df


def q_join_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_on + DSL chain: region + nation + customer."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    # after r⋈n the accumulated table exposes n_nationkey for the next hop
    joined = (
        r.join_on("r_regionkey") + n.join_on("n_regionkey")
    )().join_on("n_nationkey") + c.join_on("c_nationkey")
    out = joined().select("r_name n_name c_custkey c_name")
    return out.df


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers having at least one order (left_semi)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.semi_join(o, ("c_custkey", "o_custkey")).select("c_custkey c_name").df


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers with no URGENT order (left_anti against a filtered
    right side — every customer has SOME order at sf0.01, so the
    unfiltered version returns 0 rows and proves nothing)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(o_orderpriority="1-URGENT")
    return c.anti_join(o, ("c_custkey", "o_custkey")).select("c_custkey c_name").df


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bag union (+) of two filtered subsets — UNION ALL semantics."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.where(o_orderpriority="1-URGENT")
    high = o.where(o_orderpriority="2-HIGH")
    both = urgent + high
    return both.select("o_orderkey o_orderpriority o_totalprice").df


# --------------------------------------------------------------------- #
# §2.4 aggregation / grouping / pivot


def q_groupby_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary via groupby_with_summaries."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupby_with_summaries(
        "l_returnflag l_linestatus",
        sum_qty=F.round(F.sum("l_quantity"), 2),
        sum_base_price=F.round(F.sum("l_extendedprice"), 2),
        sum_disc_price=F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ),
        avg_qty=F.round(F.avg("l_quantity"), 4),
        avg_price=F.round(F.avg("l_extendedprice"), 4),
        count_order=F.count(F.lit(1)),
    )
    return out.df


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot(a b).as_table(): per-combination counts."""
    o = _t(spark, sf_dir, "orders")
    pt = o.pivot("o_orderpriority o_orderstatus")
    return pt.as_table().df


def q_pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot with a sum aggregate cell function."""
    li = _t(spark, sf_dir, "lineitem")
    pt = li.pivot("l_returnflag l_linestatus")
    out = pt.as_table(sum, "l_quantity")
    return out.select(
        "l_returnflag l_linestatus",
        sum_l_quantity=F.round(F.col("sum_l_quantity"), 2),
    ).df


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup totals (capability the reference only has inside dump_counts)."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.rollup(
        ["l_returnflag", "l_linestatus"],
        sum_qty=F.round(F.sum("l_quantity"), 2),
        n=F.count(F.lit(1)),
    )
    return out.df


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats(): per-column summary statistics."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.stats(["l_quantity", "l_discount", "l_extendedprice"])
    return st.select(
        "name count missing",
        mean=F.round(F.col("mean"), 4),
        median=F.round(F.col("median"), 4),
        min=F.round(F.col("min"), 4),
        max=F.round(F.col("max"), 4),
        variance=F.round(F.col("variance"), 4),
        std_dev=F.round(F.col("std_dev"), 4),
    ).df


# --------------------------------------------------------------------- #
# §2.5 sort / limit / rank / window


def q_orderby_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderby desc + head — top-25 orders by total price."""
    o = _t(spark, sf_dir, "orders")
    o.orderby("o_totalprice desc, o_orderkey")
    return o.head(25).select("o_orderkey o_totalprice").df


def q_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank(): positional ranking in current sort order."""
    c = _t(spark, sf_dir, "customer")
    c.orderby("c_acctbal desc, c_custkey")
    c.rank("bal_rank")
    return c.where(bal_rank=Table.le(50)).select("c_custkey bal_rank").df


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-3 orders per customer via window function (net-new capability)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    out = o.select(
        "o_custkey o_orderkey o_totalprice",
        rn=F.row_number().over(w),
    ).where(rn=Table.le(3))
    return out.df


def q_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped composite: filter → 3-way join → grouped revenue →
    orderby → head, written end-to-end in the littletable-style API.
    Catalyst broadcasts the filtered customer dim and pushes all three
    filters into the parquet scans."""
    import datetime

    pivot = datetime.datetime(1998, 1, 1)
    c = _t(spark, sf_dir, "customer").where(c_mktsegment="BUILDING")
    o = _t(spark, sf_dir, "orders").where(o_orderdate=Table.lt(pivot))
    li = _t(spark, sf_dir, "lineitem").where(l_shipdate=Table.gt(pivot))
    j = c.join(o, c_custkey="o_custkey").join(li, o_orderkey="l_orderkey")
    # the join's collision rule keeps the left key column (o_orderkey)
    g = j.groupby_with_summaries(
        "o_orderkey o_orderdate o_orderpriority",
        revenue=F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ),
    )
    out = g.orderby("revenue desc, o_orderdate, o_orderkey").head(10)
    return out.select(
        "o_orderdate o_orderpriority revenue", l_orderkey=F.col("o_orderkey")
    ).df


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moving average over a 4-row frame (rowsBetween) per supplier —
    window frames are net-new capability over the reference (§2.5).

    Sort is PROVABLY total: partition l_suppkey + (l_orderkey,
    l_linenumber, l_partkey) covers lineitem's unique 4-tuple from the
    duplicate-key census ((orderkey, linenumber) alone is deliberately
    non-unique in the synthetic data — sf0.1 has a duplicate pair with
    different prices, which round 5's engine-dependent-averages bug
    hinged on). l_extendedprice stays in the key so the pre-census
    ordering (price resolved the only observed ties) is preserved.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice",
            "l_partkey",
        )
        .rowsBetween(-3, 0)
    )
    out = li.select(
        "l_suppkey l_orderkey l_linenumber l_shipdate",
        mov_avg_price=F.round(F.avg("l_extendedprice").over(w), 4),
    )
    return out.df


def q_slice_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index range query by.<attr>[lo:hi] (ge/lt half-open semantics)."""
    o = _t(spark, sf_dir, "orders")
    o.create_index("o_totalprice")
    sub = o.by.o_totalprice[50000.0:150000.0]
    return sub.select("o_orderkey o_totalprice").df


# --------------------------------------------------------------------- #
# events (epoch-based so Spark/DuckDB agree independent of session TZ)


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tumbling 1-hour window aggregation over the events table."""
    from littletable_spark.streaming import tumbling_window

    e = _ev(spark, sf_dir)
    out = tumbling_window(
        e,
        3600,
        keys=["event_type"],
        n_events=F.count(F.lit(1)),
        total_value=F.round(F.sum("value"), 2),
    )
    return out.df


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session windows per user (30-min gap) via lag + cumulative sum."""
    from littletable_spark.streaming import sessionize

    e = _ev(spark, sf_dir)
    return sessionize(e, 1800, "user_id").df


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """data-skew diagnostics (operators/stats.py:skew_report): exact
    top-5 heavy hitters per candidate join/groupBy key of orders, with
    counts, column share and a total-ordered rank — the pre-shuffle
    check that tells you whether a key needs salting/AQE skew handling
    before you commit a partitioning. One stack-unpivot scan + one
    map-combined count; rank filter plans as WindowGroupLimit."""
    o = _t(spark, sf_dir, "orders")
    return o.skew_report("o_orderstatus o_orderpriority o_custkey", top_k=5).df


def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curated-ingestion sink (streaming/ingest.py:ingest_batch — the
    exact function the foreachBatch stream drives; the true readStream
    path is exercised by tests/test_streaming_ingest.py): documents
    arrive as two micro-batches (doc_id parity), each deduped
    within-batch (MinHash greedy keep-smaller-id) and then against the
    durable band index of prior batches' SURVIVORS — the corpus parquet
    is written once per batch and never rescanned. Returns the final
    corpus with its batch_id lineage (partition) column. Deterministic
    end-to-end (hash-based dedup + fixed split), so fully
    oracle-checkable despite being a side-effecting sink."""
    import tempfile

    from littletable_spark.streaming.ingest import ingest_batch

    d = _t(spark, sf_dir, "documents").df.select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="lts_ingest_q_")
    # the returned DF is lazy, so the tree must outlive this call; a
    # bench/mirror round invokes each query several times — reclaim at
    # process exit instead of accreting mkdtemp trees on a long-lived box
    import atexit
    import shutil

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    corpus, bands = f"{root}/corpus", f"{root}/bands"
    for bid in (0, 1):
        ingest_batch(
            d.where(F.pmod(F.col("doc_id"), F.lit(2)) == bid),
            bid,
            corpus,
            bands,
            collect_stats=False,
        )
    out = read_parquet(spark, corpus)
    return out.select("doc_id", F.col("batch_id").cast("int").alias("batch_id"))


def q_stream_ingest_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compacting-ingest lifecycle: batches 0 and 1 (doc_id%3) run the
    curated sink, compact_asset folds BOTH assets' partitions into one
    generation (manifest-led swap, streaming/maintenance.py), then
    batch 2 dedups against the COMPACTED band index. Compaction is
    pure layout, so the surviving doc set must equal a never-compacted
    run's — the oracle is the plain 3-batch recurrence — while the
    batch_id lineage column proves the fold happened (-2 for folded
    survivors, 2 for batch-2 survivors). The driver thereby gates the
    whole maintenance path: generational naming, swap completeness,
    and probe-over-compacted-asset equivalence."""
    import tempfile

    from littletable_spark.streaming.ingest import ingest_batch
    from littletable_spark.streaming.maintenance import compact_asset

    d = _t(spark, sf_dir, "documents").df.select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="lts_ingest_cq_")
    # the returned DF is lazy, so the tree must outlive this call; a
    # bench/mirror round invokes each query several times — reclaim at
    # process exit instead of accreting mkdtemp trees on a long-lived box
    import atexit
    import shutil

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    corpus, bands = f"{root}/corpus", f"{root}/bands"
    for bid in (0, 1):
        ingest_batch(
            d.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid),
            bid, corpus, bands, collect_stats=False,
        )
    # the two assets are disjoint paths, so their folds are independent
    # jobs — overlap them (guide §2.6) instead of running the pair
    # sequentially; each fold is one read+write job plus driver-side fs
    # work, and the second fold's tasks back-fill the first's tail. Each
    # fold thread inherits the caller's local properties (job group,
    # description, scheduler pool), as ingest_batch's write pool does.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    fold = inheritable_thread_target(spark)(compact_asset)
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [
            pool.submit(fold, spark, p, max_generations=1)
            for p in (corpus, bands)
        ]:
            f.result()
    ingest_batch(
        d.where(F.pmod(F.col("doc_id"), F.lit(3)) == 2),
        2, corpus, bands, collect_stats=False,
    )
    out = read_parquet(spark, corpus)
    return out.select("doc_id", F.col("batch_id").cast("int").alias("batch_id"))


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming dedup: watermarked dropDuplicates, first event per
    (user, type). Projected to the key columns the winner set is
    deterministic, so the streaming path is oracle-checked against a
    batch SELECT DISTINCT."""
    from littletable_spark.streaming.events import streaming_dedup_demo

    out = streaming_dedup_demo(
        spark, f"{sf_dir}/events.parquet", keys=("user_id", "event_type")
    )
    return out.select("user_id", "event_type")


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sliding 2h/1h windows via sequence-explode (each event in 2 windows)."""
    from littletable_spark.streaming import sliding_window

    e = _ev(spark, sf_dir)
    out = sliding_window(
        e,
        7200,
        3600,
        n_events=F.count(F.lit(1)),
        total_value=F.round(F.sum("value"), 2),
    )
    return out.df


# --------------------------------------------------------------------- #
# corpus curation: dedup / similarity / text analysis (north-star ops)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup on text (min doc_id representative per distinct text)."""
    from littletable_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    out = exact_dedup(d, ["text"], "doc_id")
    return out.select("doc_id", text_hash=F.md5(F.col("text"))).df


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fingerprint dedup (md5 of lowercased, whitespace-collapsed text)."""
    from littletable_spark.operators.dedup import fingerprint_dedup

    d = _t(spark, sf_dir, "documents")
    return fingerprint_dedup(d, "text", "doc_id").df


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (8 hashes, 4 bands of 2)."""
    from littletable_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, band_size=2).df


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected components over the MinHash-LSH candidate pairs: each
    near-dup doc labelled with its cluster's min doc_id (the canonical
    representative) — the pairs→clusters→keep-one step of corpus dedup.
    Distributed min-label propagation + pointer jumping (dedup.py)."""
    from littletable_spark.operators.dedup import dup_clusters, minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, band_size=2).df
    return dup_clusters(pairs, "id1", "id2").orderBy("doc_id")


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact 3-gram Jaccard pairs at >= 0.5."""
    from littletable_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).df


def q_sample_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic epoch shuffle: stable (shard, shuffle_ord) layout
    columns (the physical partitioning/order itself is the writer-side
    contract, asserted in tests)."""
    from littletable_spark.operators.sampling import epoch_shuffle

    d = _t(spark, sf_dir, "documents")
    out = epoch_shuffle(d, "doc_id", seed="r6", n_shards=8)
    return out.df.select("doc_id", "shard", "shuffle_ord")


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): top-100 documents by ln(u)/w with w = char length — the
    quality-weighted corpus-selection step. The raw score stays out of
    the output (ln() may differ in the last ulp across engines); the
    selected (doc_id, w) pairs are exact."""
    from littletable_spark.operators.sampling import sample_weighted

    d = _t(spark, sf_dir, "documents")
    weighted = Table.from_df(
        d.df.select(
            "doc_id", F.length("text").cast("double").alias("w")
        )
    )
    out = sample_weighted(weighted, 100, "w", "doc_id", salt="r7")
    return out.df.select("doc_id", "w")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-8 for a fixed query (scores rounded to 6dp BEFORE
    ranking so the rank order is total and engine-portable)."""
    from littletable_spark.operators.textops import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, "text", "doc_id", "spark table merge", k=8).df


def q_text_tfidf_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental tf-idf: a new batch (doc_id % 9 == 0) scored against
    the STORED corpus statistics (term_stats_table over the full
    corpus) — tf from the batch, df/D from the durable stats asset, the
    corpus text never re-tokenized (textops.term_stats_table +
    tfidf_top_terms(against_stats=))."""
    from littletable_spark.operators.textops import (
        term_stats_table,
        tfidf_top_terms,
    )
    from littletable_spark.session import scoped_persist
    from littletable_spark.table import Table

    d = _t(spark, sf_dir, "documents")
    stats = term_stats_table(d, "text", "doc_id")
    # persist the (vocab-bounded) stats asset: the scalar collect in
    # tfidf_top_terms fills the cache, so the scoring join reuses it
    # instead of re-tokenizing the corpus a second time within one
    # invocation — the deployment shape, where the stats table is a
    # durable asset. Kept in the engine's cache registry so repeated
    # calls hold ONE stats cache, not one per invocation (guide §5).
    with scoped_persist("q_text_tfidf_incr") as scope:
        scope.keep(scope.persist(stats.df))
    batch = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(9)) == 0))
    return tfidf_top_terms(
        batch, "text", "doc_id", k=3, against_stats=stats
    ).df


def q_text_bm25_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a new batch (doc_id % 9 == 0) with df/D/avgdl from the
    STORED corpus statistics — the repeated-retrieval shape where the
    settled corpus pays one stats build, then every query is a tiny
    probe (textops.bm25_topk(against_stats=))."""
    from littletable_spark.operators.textops import (
        bm25_topk,
        term_stats_table,
    )
    from littletable_spark.table import Table

    d = _t(spark, sf_dir, "documents")
    stats = term_stats_table(d, "text", "doc_id")
    batch = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(9)) == 0))
    return bm25_topk(
        batch, "text", "doc_id", "spark table merge", k=8,
        against_stats=stats,
    ).df


def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental MinHash dedup: new batch (doc_id % 10 == 0) banded
    against the existing corpus — no corpus x corpus self-join."""
    from littletable_spark.operators.dedup import minhash_lsh_pairs
    from littletable_spark.table import Table

    d = _t(spark, sf_dir, "documents")
    new = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0))
    corpus = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0))
    return minhash_lsh_pairs(new, "doc_id", "text", against=corpus).df


def q_dedup_embedding_lsh_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental embedding LSH dedup: new vectors (vec_id % 10 == 0)
    bucketed against the existing corpus — no corpus x corpus self-join."""
    from littletable_spark.operators.dedup import embedding_lsh_dup_pairs
    from littletable_spark.table import Table

    e = _t(spark, sf_dir, "embeddings")
    new = Table.from_df(e.df.where(F.pmod(F.col("vec_id"), F.lit(10)) == 0))
    corpus = Table.from_df(e.df.where(F.pmod(F.col("vec_id"), F.lit(10)) != 0))
    return embedding_lsh_dup_pairs(
        new, "vec_id", "embedding", threshold=0.3, n_planes=6, dim=64,
        against=corpus,
    ).df


def q_dedup_spans_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental exact-substring spans: runs in new docs (doc_id % 10
    == 0) whose 5-grams occur anywhere in the existing corpus."""
    from littletable_spark.operators.dedup import duplicate_spans
    from littletable_spark.table import Table

    d = _t(spark, sf_dir, "documents")
    new = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0))
    corpus = Table.from_df(d.df.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0))
    return duplicate_spans(
        new, "text", "doc_id", k=5, min_docs=1, against=corpus
    ).df


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact-substring duplicate spans: maximal runs of 5-token grams
    shared by >= 2 distinct documents (Lee-et-al-style exact dedup)."""
    from littletable_spark.operators.dedup import duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_spans(d, "text", "doc_id", k=5).df


def q_dedup_spans_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cut every cross-document duplicate 5-gram span out of the text
    (subsumes q_dedup_spans: span detection + positional array cut)."""
    from littletable_spark.operators.dedup import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    out = remove_duplicate_spans(d, "text", "doc_id", k=5)
    return out.df.select("doc_id", F.md5(F.col("text")).alias("text_hash"))


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boilerplate line removal: line-ify into 10-token lines, drop
    lines shared verbatim by >= 2 distinct docs, reassemble in order;
    fully-boilerplate docs drop out (CCNet/RefinedWeb policy)."""
    from littletable_spark.operators.dedup import _tokens, line_dedup
    from littletable_spark.table import Table

    d = _t(spark, sf_dir, "documents")
    # materialize the token array ONCE: inlining the tokenizer inside
    # the transform lambda re-runs the regex split per chunk (the
    # documented per-position re-tokenize trap, dedup.py:_shingles)
    toked = d.df.select("doc_id", _tokens("text").alias("__tk__"))
    tk = F.col("__tk__")
    lined = toked.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.lit(0), F.floor((F.size(tk) - 1) / F.lit(10)).cast("int")
                    ),
                ),
                lambda i: F.array_join(F.slice(tk, i * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = line_dedup(Table.from_df(lined, name="lined"), "text", "doc_id")
    return out.df.select(
        "doc_id", F.md5(F.col("text")).alias("text_hash"), "n_lines_kept"
    )


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stupid-backoff bigram LM score (round 10): the corpus's own
    bigram model capped to the top-30 pairs so BOTH branches execute —
    bigram hits score c2/c1, capped-out/rare pairs back off through
    alpha * c(w2)/N (the unigram arithmetic, in-gate)."""
    from littletable_spark.operators.textops import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d, "text", "doc_id", model_size=30).df


def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unigram LM-quality proxy: mean token log-prob under the corpus's
    own top-20 unigram model (31 distinct tokens at sf0.01, so the cap
    exercises the OOV alpha path)."""
    from littletable_spark.operators.textops import unigram_logprob

    d = _t(spark, sf_dir, "documents")
    return unigram_logprob(d, "text", "doc_id", alpha=0.5, vocab_size=20).df


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document top-3 tf-idf terms (keyword extraction); rank order
    (tfidf desc, term asc) is total."""
    from littletable_spark.operators.textops import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "text", "doc_id", k=3).df


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming <= 3 via pigeonhole blocking.

    Oracle-checked: the 32 per-bit vote aggregations are generated into
    SQL (_simhash_oracle_sql); the Spark side's pigeonhole blocking is a
    complete cover for hamming <= max_hamming, so exact all-pairs SQL
    yields the identical pair set.
    """
    from littletable_spark.operators.dedup import simhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_dedup_pairs(d, "doc_id", "text", bits=32, max_hamming=3, n_blocks=4).df


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-dup pairs (cosine >= 0.3, exact pairwise)."""
    from littletable_spark.operators.dedup import embedding_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(e, "vec_id", "embedding", threshold=0.3).df


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sub-quadratic embedding near-dup: hyperplane-bucketed candidates
    (seed-42, 6 planes), exact cosine only within buckets."""
    from littletable_spark.operators.dedup import embedding_lsh_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_lsh_dup_pairs(
        e, "vec_id", "embedding", threshold=0.3, n_planes=6, dim=64
    ).df


def q_explode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_field: UDTF/flatMap shape — one row per array element
    with its ordinal (native posexplode, no shuffle)."""
    e = _t(spark, sf_dir, "embeddings")
    out = e.where(vec_id=Table.lt(50)).explode_field(
        "embedding", into="component", pos_into="pos"
    )
    return out.select("vec_id pos component").df


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-10 neighbors for query vectors vec_id < 5."""
    from littletable_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(vec_id=Table.lt(5))
    return cosine_topk(e, q, "vec_id", "embedding", k=10).df


def q_sim_f32_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cosine top-8 over float32-STORED embeddings (round-9
    cast_embeddings): the column is pinned double→float32 before
    scoring, so the gate covers the storage-halving path end-to-end —
    scoring upcasts to float64 (the engine contract), and DuckDB
    replays the identical IEEE truncation via ::DOUBLE[]::REAL[]::
    DOUBLE[]. Query set (10 ≤ vec_id < 15) is disjoint from
    sim_cosine_topk's so the two exercise different rows."""
    from littletable_spark.operators.similarity import (
        cast_embeddings,
        cosine_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    e32 = cast_embeddings(
        cast_embeddings(e, "embedding", dtype="double"), "embedding"
    )
    q = e32.where(vec_id=Table.ge(10)).where(vec_id=Table.lt(15))
    return cosine_topk(e32, q, "vec_id", "embedding", k=8).df


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (random hyperplanes, seed=42).

    Oracle-checked: the seed-deterministic plane matrix is serialized
    into the SQL as literals (_lsh_oracle_sql), so DuckDB reproduces the
    same buckets and the same exact in-bucket re-rank.
    """
    from littletable_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(vec_id=Table.lt(5))
    return lsh_topk(e, q, "vec_id", "embedding", k=10, n_planes=6, dim=64).df


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: spherical-k-means coarse quantizer, probe-limited scan.

    Run with nprobe == nlist, where IVF provably degenerates to the exact
    result — the full machinery (centroid training, cluster assignment,
    probe equi-join, re-rank) executes and is oracle-checkable; reduced
    nprobe recall is covered by unit tests.
    """
    from littletable_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(vec_id=Table.lt(5))
    return ivf_topk(
        e, q, "vec_id", "embedding", k=10, nlist=16, nprobe=16
    ).df


def q_sim_ivf_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-IVF-index top-10: index the base corpus once
    (ivf_index_table), extend it with a later batch against the FROZEN
    centroid model (extend_ivf_index — zero training jobs, only the
    batch is assigned), then search the stored index
    (against_index=) without ever rescanning or re-assigning the
    corpus. Run with nprobe == nlist, where every list is probed and
    the result provably equals exact brute-force top-k regardless of
    the trained model — so the full durable-index machinery (build,
    frozen-model extension, model reload, static probe-cluster
    predicate, candidate join, re-rank) executes and is
    oracle-checkable; reduced-nprobe recall and parquet
    partition-pruning are covered by unit tests."""
    from littletable_spark.operators.similarity import (
        extend_ivf_index,
        ivf_index_table,
        ivf_topk,
    )

    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    base = e.where(vec_id=Table.ge(100))
    batch = e.where(vec_id=Table.lt(100))
    idx = extend_ivf_index(
        ivf_index_table(base, "vec_id", "embedding", nlist=16, seed=42),
        batch,
        "vec_id",
        "embedding",
    )
    # persist the index like the real deployment (durable asset on
    # disk): an in-memory index would recompute its assignment lineage
    # once for the model-row collect and once for the candidate scan —
    # the stored table makes both a cheap columnar read, and is the
    # shape against_index= exists for
    root = tempfile.mkdtemp(prefix="lts_ivf_q_")
    # the returned DF is lazy, so the tree must outlive this call; a
    # bench/mirror round invokes each query several times — reclaim at
    # process exit instead of accreting mkdtemp trees on a long-lived box
    import atexit
    import shutil

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx.df.write.mode("overwrite").parquet(f"{root}/ivf")
    stored = Table.parquet_import(spark, f"{root}/ivf")
    q = e.where(vec_id=Table.ge(5)).where(vec_id=Table.lt(10))
    return ivf_topk(
        e, q, "vec_id", "embedding", k=10, nprobe=16, against_index=stored
    ).df


def q_sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized durable IVF index: build (coarse quantizer +
    per-subspace PQ codebooks, m-byte codes instead of full vectors —
    the >=8x storage cut that keeps a 100 TB corpus's index from being
    corpus-sized), persist to parquet, reload (codebooks reconstructed
    from the model rows), then search via ADC lookup-table candidates +
    exact re-rank against corpus vectors fetched through a broadcast
    candidate join. Run with nprobe == nlist and rerank >= |corpus|,
    where the PQ path provably returns the exact brute-force top-k
    (ADC only orders candidates; final scores are exact re-rank) — so
    the full PQ machinery is oracle-checkable; reduced-probe recall
    and the storage ratio are covered by tests/test_pq_index.py."""
    from littletable_spark.operators.similarity import ivf_index_table, ivf_topk

    import atexit
    import shutil
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    idx = ivf_index_table(
        e, "vec_id", "embedding", nlist=16, pq_m=8, pq_ksub=32, seed=42
    )
    root = tempfile.mkdtemp(prefix="lts_pq_q_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx.df.write.mode("overwrite").parquet(f"{root}/pq")
    stored = Table.parquet_import(spark, f"{root}/pq")
    q = e.where(vec_id=Table.ge(20)).where(vec_id=Table.lt(25))
    return ivf_topk(
        e, q, "vec_id", "embedding", k=10, nprobe=16,
        against_index=stored, rerank=100_000,
    ).df


def q_sim_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic clustering: spherical-k-means assignment over embeddings.

    Run with deterministic init (centroids = embeddings of vec_id 0..7,
    ``train_iters=0``), where assignment degenerates to
    nearest-of-the-given-vectors — the full distributed machinery
    (broadcast centroid matrix, Arrow/BLAS argmax scan, rounded-score
    tie-break) executes and is oracle-checkable; Lloyd refinement is
    covered by differential unit tests (the sim_ivf_topk pattern)."""
    from littletable_spark.operators.similarity import cluster_embeddings

    e = _t(spark, sf_dir, "embeddings")
    return cluster_embeddings(
        e, "vec_id", "embedding", init_ids=list(range(8)), train_iters=0
    ).df


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster near-dup pairs: k-means blocks the
    corpus, exact cosine only inside each block (candidates Σ n_c²,
    never N²). Deterministic-init clustering as in sim_cluster so the
    block structure is SQL-expressible for the oracle."""
    from littletable_spark.operators.dedup import semantic_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(
        e,
        "vec_id",
        "embedding",
        threshold=0.3,
        init_ids=list(range(8)),
        train_iters=0,
    ).df


def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conditional in-place update: flag urgent F-status orders; narrow
    when/otherwise projection, row count and order unchanged."""
    o = _t(spark, sf_dir, "orders")
    o.update({"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}, flag=1)
    return o.select("o_orderkey o_orderstatus o_orderpriority flag").df


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyed MERGE at batch scale (the nightly re-crawl shape): every
    7th customer is re-ingested with a refreshed balance + a c_note
    column the corpus lacks (schema widening), every 11th spawns a
    net-new key that appends. Matched rows keep their position and
    their non-incoming columns (c_name survives); the hash covers all
    three behaviors over the full table."""
    c = _t(spark, sf_dir, "customer")
    base = c.df
    matched = base.where(F.pmod(F.col("c_custkey"), F.lit(7)) == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("refreshed").alias("c_note"),
    )
    fresh = base.where(F.pmod(F.col("c_custkey"), F.lit(11)) == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("added").alias("c_note"),
    )
    c.upsert(Table.from_df(matched.unionByName(fresh)), key="c_custkey")
    return c.select("c_custkey c_name c_acctbal c_note").df


def q_dedup_semantic_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental SemDeDup: new vectors (vec_id % 10 == 0) blocked and
    scored against the existing corpus only — never corpus × corpus.
    The cluster model is frozen from the corpus side (init vec_id 1..8,
    all corpus rows, train_iters=0 so the oracle can replicate it)."""
    from littletable_spark.operators.dedup import semantic_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    new = Table.from_df(e.df.where(F.pmod(F.col("vec_id"), F.lit(10)) == 0))
    corpus = Table.from_df(e.df.where(F.pmod(F.col("vec_id"), F.lit(10)) != 0))
    return semantic_dup_pairs(
        new,
        "vec_id",
        "embedding",
        threshold=0.3,
        against=corpus,
        init_ids=list(range(1, 9)),
        train_iters=0,
    ).df


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token counting: total, distinct, type-token ratio, CJK chars
    (round 14: CJK-aware — every doc_id%5==0 doc gets a synthesized
    Han/kana suffix, `中文好 テスト` repeated (doc_id%3)+1 times, so
    the per-char token proxy, the ceil(chars/2) BPE proxy, and the
    n_cjk_chars column all hash-gate; the corpus itself is ASCII)."""
    from littletable_spark.operators.textops import token_stats

    d = _t(spark, sf_dir, "documents")
    d.compute_field(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(F.lit("中文好 テスト"), (F.col("doc_id") % 3 + 1).cast("int")),
            ),
        ).otherwise(F.col("text")),
    )
    return token_stats(d, "text", "doc_id").df


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality scoring: length/punct/stopword features + composite."""
    from littletable_spark.operators.textops import quality_score

    d = _t(spark, sf_dir, "documents")
    return quality_score(d, "text", "doc_id").df


def q_text_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """model-based quality filtering (the fastText/DCLM-style learned
    stage): quality_score's feature columns scored by a FIXED linear
    model (score_linear — fixed-order multiply-add, pure JVM
    projection) with the keep decision thresholded on the raw logit.
    Fixed weights keep the query oracle-checkable; the pyspark.ml
    training path that produces such weights is covered by
    tests/test_classifier.py (train_quality_classifier round-trips
    into this exact scorer)."""
    from littletable_spark.operators.classifier import score_linear
    from littletable_spark.operators.textops import quality_score

    d = _t(spark, sf_dir, "documents")
    feats = quality_score(d, "text", "doc_id")
    scored = score_linear(
        feats,
        {
            "mean_token_len": 0.4,
            "n_tokens": 0.02,
            "punct_ratio": -12.0,
            "stopword_ratio": 3.0,
        },
        intercept=-2.5,
        decision_col="keep",
        threshold=0.0,
    )
    return scored.df.select("doc_id", "logit", "keep")


# per-script text samples appended to every 8th/...-th document so the
# langid gate exercises ALL script classes (Cyrillic/kana/Hangul/
# Arabic/Devanagari/Han) and a marker-only latin language — the same
# literals are embedded in the generated oracle SQL, so Spark and
# DuckDB see identical inputs
_LANGID_SAMPLES: dict[int, str] = {
    1: "не что это как по его она так и на русском",
    2: "これは日本語のテキストです ひらがなとカタカナの文",
    3: "이것은 한국어 텍스트입니다 그리고 있는 하지만",
    4: "هذا نص باللغة العربية في من على إلى",
    5: "यह हिंदी में पाठ है और के की से",
    6: "的是了在和有我不这他 纯中文文本没有空格",
    7: "não uma são também já você isso muito",
}


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language ID via marker-word + Unicode-script scores (round 11:
    16 languages; every 8th doc gets a per-script sample appended so
    the kana/Hangul/Cyrillic/Arabic/Devanagari/Han regexp_count
    features and the new marker tables are all live in the gate)."""
    from littletable_spark.operators.textops import lang_id

    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    for k, s in _LANGID_SAMPLES.items():
        text = F.when(
            F.col("doc_id") % 8 == k, F.concat(F.col("text"), F.lit(" " + s))
        ).otherwise(text)
    d2 = Table.from_df(d.df.withColumn("text", text), name="documents_mix")
    return lang_id(d2, "text", "doc_id").df


def _langid_oracle_sql() -> str:
    """Generated from the SAME marker/script constants the operator
    uses, so the two can never drift."""
    from littletable_spark.operators.textops import (
        LANG_MARKERS,
        LANG_SCRIPTS,
        SCRIPT_RANGES,
    )

    codes = sorted(LANG_MARKERS)
    score_exprs = []
    for c in codes:
        lst = ",".join("'" + m.replace("'", "''") + "'" for m in LANG_MARKERS[c])
        e = f"len(list_intersect(toks, [{lst}]))"
        for script, wgt in LANG_SCRIPTS.get(c, []):
            e += (
                f" + {wgt} * len(regexp_extract_all(text,"
                f" '[{SCRIPT_RANGES[script]}]'))"
            )
        score_exprs.append(f"({e})::INTEGER AS score_{c}")
    score_cols = ", ".join(f"score_{c}" for c in codes)
    greatest = "greatest(" + score_cols + ")"
    case = [f"CASE WHEN {greatest} = 0 THEN 'unknown'"]
    for c in codes[:-1]:
        case.append(f"WHEN score_{c} = {greatest} THEN '{c}'")
    case.append(f"ELSE '{codes[-1]}' END AS pred_lang")
    mix = " ".join(
        f"WHEN {k} THEN text || ' {s}'" for k, s in _LANGID_SAMPLES.items()
    )
    return f"""
        WITH docs2 AS (
          SELECT doc_id,
                 CASE doc_id % 8 {mix} ELSE text END AS text
          FROM documents
        ), t AS (
          SELECT doc_id, text,
                 list_transform(list_filter(
                   string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                   x -> lower(x)) AS toks
          FROM docs2
        ), s AS (
          SELECT doc_id, {", ".join(score_exprs)} FROM t
        )
        SELECT doc_id, {score_cols}, {" ".join(case)}
        FROM s
    """


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document fingerprinting: normalized md5 + min rolling-window hash."""
    from littletable_spark.operators.textops import doc_fingerprint

    d = _t(spark, sf_dir, "documents")
    return doc_fingerprint(d, "text", "doc_id").df


def q_search_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """full-text search DSL over documents (inverted index + scoring).

    Oracle-checked: the query is compiled driver-side with the engine's
    own compile_query, and the full normalizer — stopwords, plural
    table+rules, composite splitting — is emitted as SQL containment
    predicates (_search_text_oracle_sql); golden unit tests additionally
    pin the reference's +/-/++/-- scoring semantics.
    """
    d = _t(spark, sf_dir, "documents")
    d.create_search_index("text")
    result = d.search.text("+spark merge --vector", limit=50)
    return result.select("doc_id text_search_score").df


def q_slice_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """positional slice t[100:150] in sorted order (dense row indexing)."""
    o = _t(spark, sf_dir, "orders")
    o.orderby("o_totalprice desc, o_orderkey")
    return o[100:150].select("o_orderkey o_totalprice").df


def q_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head + tail composition in sorted order (UNION ALL of both ends)."""
    o = _t(spark, sf_dir, "orders")
    o.orderby("o_totalprice desc, o_orderkey")
    both = o.head(5) + o.tail(5)
    return both.select("o_orderkey o_totalprice").df


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube() grouping-sets aggregate (capability win over the reference)."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.cube(
        ["l_returnflag", "l_linestatus"],
        sum_qty=F.round(F.sum("l_quantity"), 2),
        n=F.count(F.lit(1)),
    )
    return out.df


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregate: explicit set list, single Expand+agg
    (capability win over the reference, companion to cube/rollup)."""
    o = _t(spark, sf_dir, "orders")
    out = o.grouping_sets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        sum_price=F.round(F.sum("o_totalprice"), 2),
        n=F.count(F.lit(1)),
    )
    return out.df


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-count aggregates per group."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupby_with_summaries(
        "l_returnflag",
        n_parts=F.count_distinct(F.col("l_partkey")),
        n_supps=F.count_distinct(F.col("l_suppkey")),
        n=F.count(F.lit(1)),
    )
    return out.df


def q_groupby_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """consecutive-run groupby (itertools semantics): runs of equal
    o_orderstatus in orderkey order, aggregated per run."""
    from littletable_spark.operators.grouping import consecutive_runs

    o = _t(spark, sf_dir, "orders")
    out = consecutive_runs(
        o,
        "o_orderstatus",
        order_by="o_orderkey",
        n_orders=F.count(F.lit(1)),
        max_price=F.max("o_totalprice"),
    )
    return out.df


def q_search_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """full-text search in raw-token mode (normalize=False): the whole
    scoring pipeline — inverted index, +/-- weights, exclusion, ranked
    limit — is SQL-reproducible, so this one IS oracle-checked."""
    d = _t(spark, sf_dir, "documents")
    d.create_search_index("text", normalize=False)
    result = d.search.text("+merge spark --vector", limit=50)
    return result.select("doc_id text_search_score").df


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join: each event gets the user's latest order at/before it.

    Right side is pre-deduped per (user, second) so the match is
    deterministic in both engines.
    """
    from littletable_spark.operators.joins import asof_join
    from littletable_spark.streaming.events import epoch_seconds

    e = _ev(spark, sf_dir)
    ev = Table.from_df(e.df.select("event_id", "user_id", "ts_sec"))
    o = _t(spark, sf_dir, "orders")
    orders = Table.from_df(
        o.df.select(
            F.col("o_custkey").alias("user_id"),
            epoch_seconds(o.df, "o_orderdate").alias("ot"),
            F.col("o_orderkey"),
        )
        .groupBy("user_id", "ot")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(
        ev, orders, "ts_sec", "ot", by={"user_id": "user_id"},
        right_cols=["last_orderkey"],
    )
    return out.df


def q_convert_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert_numeric transform: ''->empty default, junk->non_numeric."""
    p = _t(spark, sf_dir, "part")
    p.compute_field(
        "raw",
        F.when(F.col("p_partkey") % 7 == 0, F.lit(""))
        .when(F.col("p_partkey") % 11 == 0, F.lit("n/a"))
        .otherwise(F.col("p_size").cast("string")),
    )
    p.convert_numeric(fields=["raw"], empty=-1.0, non_numeric=-2.0)
    return p.select("p_partkey raw").df


def q_multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perceptual-hash image dedup (round 9): 64-bit image hash per
    blob, pigeonhole-blocked Hamming pair join (shared with SimHash —
    hamming_hash_pairs), exact bit_count(xor) filter. Gated on the
    md5-derived FAKE hash contract (JVM-native, SQL-expressible, like
    multimodal_decode's fake pixels); the real dHash path
    (decode_to_gray gradients, container/brightness-invariant) is
    pinned by test_multimodal_convert.py. Blobs synthesize duplicate
    groups (content = doc_id % 60) so the pair join has real work."""
    from littletable_spark.operators.multimodal import image_dup_pairs

    d = _t(spark, sf_dir, "documents")
    d.compute_field(
        "blob",
        F.encode(
            F.concat(F.lit("img-"), (F.col("doc_id") % 60).cast("string")),
            "utf-8",
        ),
    )
    pairs = image_dup_pairs(d, "blob", "doc_id", max_hamming=3, n_blocks=4)
    return pairs.df.select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


def q_multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perceptual audio dedup (round 11): 64-bit spectral fingerprint
    per blob, pigeonhole-blocked Hamming pair join (shared
    hamming_hash_pairs) — completes the dedup matrix alongside text
    SimHash and image dHash. Gated on the md5 'aud:'-salted FAKE hash
    contract (JVM-native, SQL-expressible, like image_hash); the real
    path (WAV/FLAC decode → 8-band × 9-frame spectral time-difference
    bits, gain- and container-invariant) is pinned by
    test_flaccodec.py. Blobs synthesize duplicate groups
    (content = doc_id % 45) so the pair join has real work."""
    from littletable_spark.operators.multimodal import audio_dup_pairs

    d = _t(spark, sf_dir, "documents")
    d.compute_field(
        "blob",
        F.encode(
            F.concat(F.lit("aud-"), (F.col("doc_id") % 45).cast("string")),
            "utf-8",
        ),
    )
    pairs = audio_dup_pairs(d, "blob", "doc_id", max_hamming=3, n_blocks=4)
    return pairs.df.select(
        "id1", "id2", F.col("hamming").cast("int").alias("hamming")
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary media columns: magic-byte sniff + typed metadata struct."""
    from littletable_spark.operators.multimodal import sniff_media

    d = _t(spark, sf_dir, "documents")
    # synthesize blobs: magic-byte prefixes cycling PNG / RTF / zip /
    # OLE2 (round 13 adds the document-container rows) over raw text
    d.compute_field(
        "blob",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.unhex(F.lit("89504E470D0A1A0A")), F.encode(F.col("text"), "utf-8")),
        ).when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.unhex(F.lit("7B5C72746631")), F.encode(F.col("text"), "utf-8")),
        ).when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.unhex(F.lit("504B030414")), F.encode(F.col("text"), "utf-8")),
        ).when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.unhex(F.lit("D0CF11E0A1B11AE1")), F.encode(F.col("text"), "utf-8")),
        ).otherwise(F.encode(F.col("text"), "utf-8")),
    )
    out = sniff_media(d, "blob")
    return out.select(
        "doc_id",
        media_format=F.col("media_meta.format"),
        n_bytes=F.col("media_meta.n_bytes"),
        content_hash=F.md5(F.lower(F.hex(F.col("blob")))),  # DuckDB 1.0 lacks md5(BLOB)
    ).df


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode->featurize pipeline over binary blobs (deterministic fake
    decoder; real codecs are stubbed — no media libs in this env).

    Oracle-checked: the fake decode is ``md5(blob).digest()[(x*31+y) %
    16] / 255.0``, and md5 digest bytes are reconstructible in DuckDB
    from the md5 hex string (``('0x' || substr(md5(text), 2k+1, 2))::
    BIGINT``), so the full decode→featurize math — fold-ordered pixel
    sum, min/max, mean — is mirrored in SQL (see oracle_sql).
    """
    from littletable_spark.operators.multimodal import decode_image, media_features

    d = _t(spark, sf_dir, "documents")
    d.compute_field("blob", F.encode(F.col("text"), "utf-8"))
    decoded = decode_image(d, "blob", "doc_id", width=4, height=4)
    feats = media_features(decoded, "doc_id")
    return feats.select(
        "doc_id n_px",
        pmean=F.round(F.col("pmean"), 6),
        pmin=F.col("pmin"),
        pmax=F.col("pmax"),
    ).df


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio decode pipeline over binary blobs (deterministic fake
    features; the REAL path — pure stdlib/numpy RIFF/PCM WAV decode in
    functions/audiocodec.py — is pytest-verified against stdlib-encoded
    fixtures, test_imagecodec.py).

    Oracle-checked like multimodal_decode: the fake features are
    ``md5(blob).digest()`` bytes (n_frames=b0, duration=b1/255,
    rms=b2/255, peak=b3/255, zcr=b4/255), reconstructible in DuckDB
    from the md5 hex string. Scalar columns only (waveform array
    dropped) per the registry schema rule."""
    from littletable_spark.operators.multimodal import decode_audio

    d = _t(spark, sf_dir, "documents")
    d.compute_field("blob", F.encode(F.col("text"), "utf-8"))
    out = decode_audio(d, "blob", "doc_id", use_fake=True)
    return out.select(
        "doc_id n_frames",
        duration=F.round(F.col("duration"), 6),
        rms=F.round(F.col("rms"), 6),
        peak=F.round(F.col("peak"), 6),
        zcr=F.round(F.col("zcr"), 6),
    ).df


def q_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document text extraction (round 13, reshaped round 14): REAL
    containers are synthesized per doc in an Arrow pass — doc_id%14==0
    a DOCX with a w:tab run + a docProps/core.xml dc:title, %10==1 an
    ODT with a run-length text:s + a meta.xml dc:title, %10==2 an
    XLSX (shared string + numeric cell + inline-string row), %10==3 a
    PPTX (two slides, a:tab run), %10==4 an RTF (destination group +
    \\par/\\tab + a hex escape), %10==5 an EPUB (container.xml -> OPF
    spine with a dc:title -> two XHTML chapters), %10==6 a
    non-document zip that must NULL under on_error='null', %10==7 a
    LATIN-1 plain-text blob (round 14: charset decode ladder —
    detected cp1252, encoding column), %10==8 a UTF-16-LE-BOM text
    blob, %10==9 a legacy .ppt (round 14: MS-CFB container written
    inline, two slides via TextBytesAtom/TextCharsAtom) — then the
    real extractors run end-to-end. The oracle predicts the extracted
    text, title, AND encoding arithmetically (the fixture content is
    a pure function of (doc_id, lang)), so extraction, whitespace
    semantics, format routing, titles, the charset ladder, and the
    on_error audit trail all hash-gate."""
    from littletable_spark.operators.multimodal import extract_text

    d = _t(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def make_blob(doc_id: pd.Series, lang: pd.Series) -> pd.Series:
        import io
        import struct as st
        import zipfile

        def cfb_single_stream(name: str, data: bytes) -> bytes:
            """Minimal MS-CFB with ONE big stream (padded past the
            mini cutoff so only the main FAT is needed)."""
            FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
            data = data.ljust(4096, b"\x00")
            nsec = -(-len(data) // 512)
            sectors = [
                data[k * 512 : (k + 1) * 512].ljust(512, b"\x00")
                for k in range(nsec)
            ]
            fat = list(range(1, nsec)) + [END]

            def dirent(nm, etype, start, size, child=FREE):
                raw = nm.encode("utf-16-le") + b"\x00\x00"
                e = bytearray(128)
                e[: len(raw)] = raw
                st.pack_into("<H", e, 64, len(raw))
                e[66] = etype
                e[67] = 1
                st.pack_into("<I", e, 68, FREE)
                st.pack_into("<I", e, 72, FREE)
                st.pack_into("<I", e, 76, child)
                st.pack_into("<I", e, 116, start)
                st.pack_into("<Q", e, 120, size)
                return bytes(e)

            dir_start = len(sectors)
            ents = dirent("Root Entry", 5, END, 0, child=1) + dirent(
                name, 2, 0, len(data)
            )
            sectors.append(ents.ljust(512, b"\x00"))
            fat.append(END)
            fat_first = len(sectors)
            fat.append(FATSECT)
            sectors.append(
                b"".join(st.pack("<I", v) for v in fat).ljust(512, b"\xff")
            )
            hdr = bytearray(512)
            hdr[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
            st.pack_into("<H", hdr, 24, 0x3E)
            st.pack_into("<H", hdr, 26, 3)
            st.pack_into("<H", hdr, 28, 0xFFFE)
            st.pack_into("<H", hdr, 30, 9)
            st.pack_into("<H", hdr, 32, 6)
            st.pack_into("<I", hdr, 44, 1)
            st.pack_into("<I", hdr, 48, dir_start)
            st.pack_into("<I", hdr, 56, 4096)
            st.pack_into("<I", hdr, 60, END)
            st.pack_into("<I", hdr, 64, 0)
            st.pack_into("<I", hdr, 68, END)
            st.pack_into("<I", hdr, 72, 0)
            st.pack_into("<I", hdr, 76, fat_first)
            for j in range(1, 109):
                st.pack_into("<I", hdr, 76 + 4 * j, FREE)
            return bytes(hdr) + b"".join(sectors)

        def ppt_atom(rtype: int, payload: bytes) -> bytes:
            return st.pack("<HHI", 0, rtype, len(payload)) + payload

        def ppt_container(rtype: int, *children: bytes) -> bytes:
            body = b"".join(children)
            return st.pack("<HHI", 0xF, rtype, len(body)) + body

        w_ns = (
            'xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main"'
        )
        odf_ns = (
            'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
            'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
        )
        ss_ns = (
            'xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"'
        )
        p_ns = (
            'xmlns:p="http://schemas.openxmlformats.org/'
            'presentationml/2006/main" '
            'xmlns:a="http://schemas.openxmlformats.org/'
            'drawingml/2006/main"'
        )
        cnt_ns = 'xmlns="urn:oasis:names:tc:opendocument:xmlns:container"'
        opf_ns = 'xmlns="http://www.idpf.org/2007/opf"'
        out = []
        cp_ns = (
            'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
            'metadata/core-properties" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/"'
        )
        meta_ns = (
            'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/"'
        )
        for i, lg in zip(doc_id, lang):
            i = int(i)
            k = i % 14
            if k == 12:  # gzipped latin-1 text: transparent unwrap
                import gzip as _gz

                out.append(
                    _gz.compress(f"Doc {i} zipped caf\xe9 {lg}".encode("latin-1"))
                )
                continue
            if k == 13:  # xz utf-8 text
                import lzma as _xz

                out.append(_xz.compress(f"Doc {i} xz {lg}".encode()))
                continue
            if k == 10:  # SRT subtitles through the text ladder
                out.append(
                    (
                        f"1\n00:00:01,000 --> 00:00:02,000\n"
                        f"Doc {i} line one\n\n"
                        f"2\n00:00:03,000 --> 00:00:04,500\n"
                        f"<i>{lg} dialog</i>\n"
                    ).encode("ascii")
                )
                continue
            if k == 11:  # WebVTT: NOTE block + cue id + voice tag
                out.append(
                    (
                        f"WEBVTT\n\nNOTE synthesized\n\n"
                        f"00:01.000 --> 00:02.000\nDoc {i} opening\n\n"
                        f"cue-2\n00:03.000 --> 00:04.000 align:start\n"
                        f"<v Narrator>{lg} closing</v>\n"
                    ).encode("ascii")
                )
                continue
            if k == 4:  # RTF: no zip container
                out.append(
                    (
                        "{\\rtf1\\ansi{\\fonttbl{\\f0 Times;}}Doc %d\\par "
                        "%s\\tab caf\\'e9}" % (i, lg)
                    ).encode("ascii")
                )
                continue
            if k == 7:  # latin-1 plain text -> cp1252 via the ladder
                out.append(f"Doc {i} café {lg}".encode("latin-1"))
                continue
            if k == 8:  # UTF-16-LE with BOM
                out.append(
                    b"\xff\xfe" + f"Doc {i} Ж{lg}".encode("utf-16-le")
                )
                continue
            if k == 9:  # legacy .ppt inside a hand-written MS-CFB
                stream = ppt_container(
                    0x03E8,  # Document
                    ppt_container(
                        0x03EE, ppt_atom(0x0FA8, f"Doc {i}".encode("cp1252"))
                    ),
                    ppt_container(
                        0x03EE,
                        ppt_atom(0x0FA0, f"{lg} deck".encode("utf-16-le")),
                    ),
                )
                out.append(cfb_single_stream("PowerPoint Document", stream))
                continue
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                if k == 5:  # EPUB
                    zf.writestr(
                        zipfile.ZipInfo("mimetype"),
                        "application/epub+zip",
                        compress_type=zipfile.ZIP_STORED,
                    )
                    zf.writestr(
                        "META-INF/container.xml",
                        f"<container {cnt_ns}><rootfiles>"
                        '<rootfile full-path="OEBPS/content.opf"/>'
                        "</rootfiles></container>",
                    )
                    zf.writestr(
                        "OEBPS/content.opf",
                        f'<package {opf_ns} '
                        'xmlns:dc="http://purl.org/dc/elements/1.1/">'
                        f"<metadata><dc:title>E{i}</dc:title></metadata>"
                        "<manifest>"
                        '<item id="c1" href="c1.xhtml" '
                        'media-type="application/xhtml+xml"/>'
                        '<item id="c2" href="c2.xhtml" '
                        'media-type="application/xhtml+xml"/>'
                        "</manifest><spine>"
                        '<itemref idref="c1"/><itemref idref="c2"/>'
                        "</spine></package>",
                    )
                    zf.writestr(
                        "OEBPS/c1.xhtml",
                        f"<html><body><p>Doc {i}</p></body></html>",
                    )
                    zf.writestr(
                        "OEBPS/c2.xhtml",
                        f"<html><body><p>{lg} chapter</p></body></html>",
                    )
                elif k == 0:
                    zf.writestr(
                        "word/document.xml",
                        f"<w:document {w_ns}><w:body>"
                        f'<w:p><w:r><w:t xml:space="preserve">Doc {i}'
                        "</w:t></w:r></w:p>"
                        f"<w:p><w:r><w:t>{lg}</w:t><w:tab/><w:t>x</w:t>"
                        "</w:r></w:p></w:body></w:document>",
                    )
                    zf.writestr(
                        "docProps/core.xml",
                        f"<cp:coreProperties {cp_ns}>"
                        f"<dc:title>T{i}</dc:title></cp:coreProperties>",
                    )
                elif k == 1:
                    zf.writestr(
                        zipfile.ZipInfo("mimetype"),
                        "application/vnd.oasis.opendocument.text",
                        compress_type=zipfile.ZIP_STORED,
                    )
                    zf.writestr(
                        "content.xml",
                        f"<office:document-content {odf_ns}>"
                        "<office:body><office:text>"
                        f"<text:p>Doc {i}</text:p>"
                        f'<text:p>{lg}<text:s text:c="2"/>x</text:p>'
                        "</office:text></office:body>"
                        "</office:document-content>",
                    )
                    zf.writestr(
                        "meta.xml",
                        f"<office:document-meta {meta_ns}><office:meta>"
                        f"<dc:title>O{i}</dc:title>"
                        "</office:meta></office:document-meta>",
                    )
                elif k == 2:
                    zf.writestr("xl/workbook.xml", f"<workbook {ss_ns}/>")
                    zf.writestr(
                        "xl/sharedStrings.xml",
                        f"<sst {ss_ns}><si><t>Doc {i}</t></si></sst>",
                    )
                    zf.writestr(
                        "xl/worksheets/sheet1.xml",
                        f"<worksheet {ss_ns}><sheetData>"
                        f'<row><c t="s"><v>0</v></c><c><v>{i % 9}</v></c>'
                        "</row>"
                        f'<row><c t="inlineStr"><is><t>{lg}</t></is></c>'
                        "</row></sheetData></worksheet>",
                    )
                elif k == 3:
                    zf.writestr(
                        "ppt/presentation.xml", f"<p:presentation {p_ns}/>"
                    )
                    zf.writestr(
                        "ppt/slides/slide1.xml",
                        f"<p:sld {p_ns}><p:cSld><p:spTree><p:sp><p:txBody>"
                        f"<a:p><a:r><a:t>Doc {i}</a:t></a:r></a:p>"
                        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>",
                    )
                    zf.writestr(
                        "ppt/slides/slide2.xml",
                        f"<p:sld {p_ns}><p:cSld><p:spTree><p:sp><p:txBody>"
                        f"<a:p><a:r><a:t>{lg}</a:t></a:r><a:tab/>"
                        "<a:r><a:t>x</a:t></a:r></a:p>"
                        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>",
                    )
                else:
                    zf.writestr("data.txt", "not a document")
            out.append(buf.getvalue())
        return pd.Series(out)

    d.compute_field("blob", make_blob(F.col("doc_id"), F.col("lang")))
    out = extract_text(d, "blob", "doc_id", on_error="null")
    return out.df.select(
        "doc_id", "doc_format", "title", "text", "n_chars", "encoding"
    )


def q_media_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media container metadata (round 14, functions/mp4codec.py +
    oggcodec.py + mkvcodec.py + the header-only wav/flac walks):
    REAL containers are synthesized per doc in an Arrow pass —
    doc_id%8==0 an MP4 (mvhd duration, avc1 video trak with 16.16
    tkhd dims, mp4a audio trak, iTunes-style ilst title), %8==1 an
    M4A (64-bit version-1 mvhd, audio-only brand routing, ilst
    artist), %8==2 an Ogg Vorbis (RFC 3533 pages with REAL CRCs;
    comment and setup packets share a page so the packet-boundary
    cut is exercised; duration from the final granule; VorbisComment
    TITLE/DATE), %8==3 an Ogg
    Opus (RFC 7845 pre-skip subtracted at the fixed 48 kHz granule
    rate; OpusTags ALBUM), %8==4 a PCM WAV (fmt + data-size
    duration), %8==5 a native FLAC (STREAMINFO + VORBIS_COMMENT
    blocks, no frames), %8==6 a WebM (EBML vints, Info
    duration/timescale/title, V_VP9 + A_OPUS track entries, a
    Cluster that must be skipped by size), %8==7 a text blob that
    must NULL under on_error='null' — then ``media_info`` runs
    end-to-end. Every
    fixture field is a pure function of doc_id, so format routing,
    duration arithmetic (all durations are exact IEEE quotients of
    identical rationals on both engines), dims, codec columns, tags,
    AND the on_error audit trail all hash-gate."""
    from littletable_spark.operators.multimodal import media_info

    d = _t(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def make_blob(doc_id: pd.Series) -> pd.Series:
        import struct as st

        def bx(t, *p):
            body = b"".join(p)
            return st.pack(">I4s", 8 + len(body), t) + body

        def fb(t, ver, *p):
            return bx(t, bytes([ver, 0, 0, 0]), *p)

        def hdlr(h):
            return fb(b"hdlr", 0, b"\x00" * 4 + h + b"\x00" * 13)

        def a_stsd(ch, rate):
            e = bx(
                b"mp4a",
                b"\x00" * 16 + st.pack(">HHHHI", ch, 16, 0, 0, rate << 16),
            )
            return fb(b"stsd", 0, st.pack(">I", 1), e)

        def v_trak(w, h):
            tk = fb(
                b"tkhd", 0,
                b"\x00" * 72 + st.pack(">II", w << 16, h << 16),
            )
            sd = fb(b"stsd", 0, st.pack(">I", 1), bx(b"avc1", b"\x00" * 78))
            return bx(
                b"trak", tk,
                bx(b"mdia", hdlr(b"vide"), bx(b"minf", bx(b"stbl", sd))),
            )

        def a_trak(ch, rate):
            return bx(
                b"trak",
                bx(
                    b"mdia", hdlr(b"soun"),
                    bx(b"minf", bx(b"stbl", a_stsd(ch, rate))),
                ),
            )

        def ilst(atom, text):
            data = bx(b"data", st.pack(">II", 1, 0) + text.encode())
            return bx(
                b"udta",
                fb(b"meta", 0, hdlr(b"mdir"), bx(b"ilst", bx(atom, data))),
            )

        def mvhd(ts, dur, ver=0):
            body = (
                st.pack(">QQIQ", 0, 0, ts, dur)
                if ver
                else st.pack(">IIII", 0, 0, ts, dur)
            )
            return fb(b"mvhd", ver, body + b"\x00" * 80)

        def ftyp(brand):
            return bx(b"ftyp", brand, st.pack(">I", 0), b"isom")

        def crc(data):
            c = 0
            for byte in data:
                c ^= byte << 24
                for _ in range(8):
                    c = ((c << 1) ^ 0x04C11DB7) if c & (1 << 31) else c << 1
                    c &= 0xFFFFFFFF
            return c

        def page(serial, seq, granule, packets, htype=0):
            lacing = bytearray()
            for p in packets:
                lacing += b"\xff" * (len(p) // 255)
                lacing.append(len(p) % 255)
            hdr = st.pack(
                "<4sBBqIIIB",
                b"OggS", 0, htype, granule, serial, seq, 0, len(lacing),
            )
            pg = bytearray(hdr + bytes(lacing) + b"".join(packets))
            st.pack_into("<I", pg, 22, crc(bytes(pg)))
            return bytes(pg)

        def vc(tags, prefix):
            body = st.pack("<I", 4) + b"sprk" + st.pack("<I", len(tags))
            for k, v in tags.items():
                kv = f"{k}={v}".encode()
                body += st.pack("<I", len(kv)) + kv
            out = prefix + body
            if prefix == b"\x03vorbis":
                out += b"\x01"
            return out

        def streaminfo(rate, ch, total):
            bits = (rate << 44) | ((ch - 1) << 41) | (15 << 36) | total
            return b"\x00" * 10 + bits.to_bytes(8, "big") + b"\x00" * 16

        def esize(n):
            ln = 1
            while n >= (1 << (7 * ln)) - 1:
                ln += 1
            raw = bytearray(n.to_bytes(ln, "big"))
            raw[0] |= 1 << (8 - ln)
            return bytes(raw)

        def el(eid, body):
            return (
                eid.to_bytes((eid.bit_length() + 7) // 8, "big")
                + esize(len(body))
                + body
            )

        out = []
        for i in doc_id:
            i = int(i)
            k = i % 8
            if k == 0:
                out.append(
                    ftyp(b"isom")
                    + bx(
                        b"moov",
                        mvhd(1000, (i % 37 + 1) * 500),
                        v_trak(16 * (i % 20 + 4), 16 * (i % 15 + 3)),
                        a_trak(2, 44100),
                        ilst(b"\xa9nam", f"M{i}"),
                    )
                )
            elif k == 1:
                out.append(
                    ftyp(b"M4A ")
                    + bx(
                        b"moov",
                        mvhd(44100, (i % 50 + 1) * 44100, ver=1),
                        a_trak(1 + i % 2, 44100),
                        ilst(b"\xa9ART", f"A{i}"),
                    )
                )
            elif k == 2:
                rate = 8000 + (i % 5) * 8000
                ident = (
                    b"\x01vorbis"
                    + st.pack("<IBIiii", 0, 1 + i % 2, rate, -1, 128000, -1)
                    + b"\xb8\x01"
                )
                out.append(
                    page(7, 0, 0, [ident], htype=2)
                    + page(
                        7, 1, 0,
                        [
                            vc(
                                {"TITLE": f"V{i}", "DATE": f"200{i % 10}"},
                                b"\x03vorbis",
                            ),
                            b"\x05vorbis" + b"\x00" * 24,
                        ],
                    )
                    + page(7, 2, (i % 23 + 1) * rate, [b"\x00" * 8], htype=4)
                )
            elif k == 3:
                head = (
                    b"OpusHead\x01\x02"
                    + st.pack("<HI", 312, 48000)
                    + b"\x00\x00\x00"
                )
                out.append(
                    page(9, 0, 0, [head], htype=2)
                    + page(9, 1, 0, [vc({"ALBUM": f"P{i}"}, b"OpusTags")])
                    + page(
                        9, 2, 312 + (i % 11 + 1) * 48000,
                        [b"\x00" * 8], htype=4,
                    )
                )
            elif k == 4:
                ch = 1 + i % 2
                data_len = (i % 9 + 1) * 800 * ch * 2
                fmt = st.pack("<HHIIHH", 1, ch, 8000, 8000 * ch * 2, ch * 2, 16)
                body = (
                    b"WAVEfmt " + st.pack("<I", 16) + fmt
                    + b"data" + st.pack("<I", data_len) + b"\x00" * data_len
                )
                out.append(b"RIFF" + st.pack("<I", len(body)) + body)
            elif k == 5:
                tags = vc({"GENRE": f"g{i}"}, b"")
                out.append(
                    b"fLaC"
                    + b"\x00" + (34).to_bytes(3, "big")
                    + streaminfo(16000, 2, (i % 13 + 1) * 16000)
                    + b"\x84" + len(tags).to_bytes(3, "big") + tags
                )
            elif k == 6:
                info = (
                    el(0x2AD7B1, (1_000_000).to_bytes(4, "big"))
                    + el(0x4489, st.pack(">d", (i % 19 + 1) * 1000.0))
                    + el(0x7BA9, f"W{i}".encode())
                )
                vtr = el(
                    0xAE,
                    el(0x83, b"\x01") + el(0x86, b"V_VP9")
                    + el(
                        0xE0,
                        el(0xB0, (8 * (i % 30 + 10)).to_bytes(2, "big"))
                        + el(0xBA, (8 * (i % 22 + 8)).to_bytes(2, "big")),
                    ),
                )
                atr = el(
                    0xAE,
                    el(0x83, b"\x02") + el(0x86, b"A_OPUS")
                    + el(
                        0xE1,
                        el(0xB5, st.pack(">f", 48000.0))
                        + el(0x9F, bytes([1 + i % 2])),
                    ),
                )
                out.append(
                    el(0x1A45DFA3, el(0x4282, b"webm"))
                    + el(
                        0x18538067,
                        el(0x1549A966, info)
                        + el(0x1654AE6B, vtr + atr)
                        + el(0x1F43B675, b"\xde\xad" * 12),
                    )
                )
            else:
                out.append(f"not media {i}".encode())
        return pd.Series(out)

    d.compute_field("blob", make_blob(F.col("doc_id")))
    out = media_info(d, "blob", "doc_id", on_error="null")
    return out.df.select(
        "doc_id", "media_format", "duration_s", "width", "height",
        "codec", "audio_codec", "channels", "sample_rate", "n_tracks",
        "title", "artist", "album", "year", "genre",
    )


def q_archive_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-member text extraction (round 14,
    operators/multimodal.py:extract_archive_text): a REAL zip is
    synthesized per doc in an Arrow pass — member ``a.txt`` (plain
    text), member ``b.srt`` (a cue whose timing line and markup must
    shed), and on doc_id%5==0 a ``c.bin`` binary member that must
    yield a per-member on_error NULL row (the audit-trail shape) —
    then the real operator explodes each blob into one row per
    member through the same per-document core as extract_text. The
    oracle replays the member fan-out as a UNION ALL and predicts
    every column arithmetically."""
    from littletable_spark.operators.multimodal import extract_archive_text

    d = _t(spark, sf_dir, "documents")

    @F.pandas_udf("binary")
    def make_zip(doc_id: pd.Series, lang: pd.Series) -> pd.Series:
        import io
        import zipfile

        out = []
        for i, lg in zip(doc_id, lang):
            i = int(i)
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr("a.txt", f"Doc {i} member alpha")
                zf.writestr(
                    "b.srt",
                    f"1\n00:00:01,000 --> 00:00:02,000\n"
                    f"<i>{lg} beta</i>\n",
                )
                if i % 5 == 0:
                    zf.writestr("c.bin", bytes(range(32)) * 4)
            out.append(buf.getvalue())
        return pd.Series(out)

    d.compute_field("blob", make_zip(F.col("doc_id"), F.col("lang")))
    out = extract_archive_text(d, "blob", "doc_id", on_error="null")
    return out.df.select(
        "doc_id", "member", "doc_format", "title", "text", "n_chars",
        "encoding",
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document chunking: fixed 16-token windows with 4-token overlap —
    the pre-training/RAG chunking step as a native posexplode plan."""
    from littletable_spark.operators.textops import chunk_documents

    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_tokens=16, overlap=4)
    return out.select("doc_id chunk_id chunk_text n_chunk_tokens").df


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email/SSN/IP/phone redaction + per-category counts
    (native regexp_replace chain, codegen end-to-end)."""
    from littletable_spark.operators.textops import scrub_pii

    d = _t(spark, sf_dir, "documents")
    return scrub_pii(d, "text", "doc_id").df


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intra-document repetition: duplicate 5-gram window fraction
    (Gopher-style quality signal)."""
    from littletable_spark.operators.textops import repetition_score

    d = _t(spark, sf_dir, "documents")
    return repetition_score(d, "text", "doc_id", n=5).df


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence packing: assign each doc to a fixed-token-budget pack
    (per-shard token-stream offset binning — the chunk→pack step of a
    training pipeline; deterministic, shuffle-minimal, UDF-free)."""
    from littletable_spark.operators.textops import pack_sequences

    d = _t(spark, sf_dir, "documents")
    out = pack_sequences(
        d, "text", "doc_id", budget_tokens=256, n_shards=8, salt="pack"
    )
    return out.select("doc_id n_tokens shard pack pack_offset").df


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL curation features (round 9, r10: public-suffix-aware
    registrable domains): synthesize crawl-shaped URLs from document
    fields (ip-hosted every 11th doc, bracketed-IPv6 hosts with
    userinfo+port every doc_id%11==5, ccTLD `.co.uk` hosts every 7th,
    query params every 3rd), then derive host / registrable domain /
    tld / path depth / param count / is_ip with the SAME regexes AND
    the same public-suffix IN-list in both engines (deliberately not
    parse_url, which DuckDB cannot replay)."""
    from littletable_spark.operators.urlops import url_features

    d = _t(spark, sf_dir, "documents")
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit("http://10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit("/mirror/"),
            F.col("doc_id").cast("string"),
        ),
    ).when(
        F.col("doc_id") % 11 == 5,
        F.concat(
            F.lit("http://u@[2001:db8::"),
            (F.col("doc_id") % 9).cast("string"),
            F.lit("]:8080/v6/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://u:p@"),
            F.col("source"),
            F.lit(".example-"),
            F.col("lang"),
            # every 7th doc on a ccTLD second-level registry: the
            # registrable domain must be the THIRD label, not co.uk
            F.when(F.col("doc_id") % 7 == 0, F.lit(".co.uk:8443/docs/"))
            .otherwise(F.lit(".com:8443/docs/")),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?a=1&b=2&c=3")).otherwise(
                F.lit("")
            ),
        )
    )
    d.compute_field("url", url)
    out = url_features(d, "url")
    return out.df.select(
        "doc_id", "host", "domain", "tld", "path_depth", "n_params",
        F.col("is_ip").cast("int").alias("is_ip"),
    )


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (round 10): synthesize messy crawl URLs —
    upper/lower case variants, explicit default ports, tracking params
    in shuffled order, fragments, junk rows — such that each even/odd
    doc pair reaches the SAME page two different ways; canonicalize
    and window-count per canonical key to show the frontier-dedup
    collapse. Same regexes + sort semantics in both engines."""
    from pyspark.sql import Window

    from littletable_spark.operators.urlops import canonicalize_urls

    d = _t(spark, sf_dir, "documents")
    pair = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    # doc_id%11==7: bracketed-IPv6 authorities (round 13) — uppercase
    # hex + userinfo + explicit default port on the even rows, bare
    # bracket form on the odd rows; the address's colons must never
    # read as a port and the brackets must survive canonicalization
    url = F.when(F.col("doc_id") % 11 == 0, F.lit("no scheme here")).otherwise(
        F.concat(
            F.when(
                (F.col("doc_id") % 11 == 7) & (F.col("doc_id") % 2 == 0),
                F.concat(
                    F.lit("HTTPS://U:P@[2001:DB8::1]:443/V6/"), pair,
                    F.lit("?utm_source=x&b=2&a=1"),
                ),
            ).when(
                F.col("doc_id") % 11 == 7,
                F.concat(
                    F.lit("https://[2001:db8::1]/V6/"), pair,
                    F.lit("?a=1&b=2&gclid="), F.col("doc_id").cast("string"),
                ),
            ).when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("HTTPS://CDN.Example-"), F.col("lang"),
                    F.lit(".COM:443/Item/"), pair,
                    F.lit("?utm_source=x&b=2&a=1"),
                ),
            ).otherwise(
                F.concat(
                    F.lit("https://u:p@cdn.example-"), F.col("lang"),
                    F.lit(".com/Item/"), pair,
                    F.lit("?a=1&b=2&gclid="), F.col("doc_id").cast("string"),
                ),
            ),
            F.when(F.col("doc_id") % 3 == 0, F.lit("#frag?fx=9")).otherwise(
                F.lit("")
            ),
        )
    )
    d.compute_field("url", url)
    out = canonicalize_urls(d, "url")
    return out.df.select(
        "doc_id",
        "canon_url",
        F.count(F.lit(1))
        .over(Window.partitionBy("canon_url"))
        .cast("int")
        .alias("n_same_key"),
    )


_ROBOTS_TEMPLATE = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/ok\n"
    "Disallow: /tmp*.bak$\n"
    "Disallow: /*?sessionid=\n"
)


def q_url_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt filtering (round 10; round 11: equi-join rewrite +
    path-AND-query matching): one robots.txt per synthesized per-lang
    domain (parsed by parse_robots in an Arrow pass), URLs in five
    path shapes hitting prefix rules, the Allow override, the $
    anchor, and its non-anchored miss, plus unlisted-domain rows,
    plus ``?sessionid=`` query strings (every 7th doc) that the
    ``/*?sessionid=`` rule must drop and ``#frag?sessionid=`` decoys
    (every 9th doc) that it must NOT — RFC 9309 matches path+query,
    never the fragment. filter_by_robots keeps the allowed set under
    strict keep_unlisted=False via the exploded host-suffix
    equi-join. The oracle replays the parsed rules as VALUES and the
    same LIKE/verdict logic."""
    from littletable_spark.operators.robots import filter_by_robots, parse_robots

    d = _t(spark, sf_dir, "documents")
    # one listed bracketed-IPv6 host rides along (round 13): its
    # /public/ URLs must be KEPT under keep_unlisted=False, which only
    # happens when the shared host chain yields the bracket contents
    # (a mis-parse like '[2001' reads as unlisted and drops them)
    robots = Table.from_df(
        d.df.select("lang")
        .distinct()
        .select(
            F.concat(F.lit("site-"), F.col("lang"), F.lit(".com")).alias(
                "domain"
            ),
            F.lit(_ROBOTS_TEMPLATE).alias("txt"),
        )
        .unionByName(
            small_df(
                d.df.sparkSession,
                [("2001:db8::1", _ROBOTS_TEMPLATE)],
                "domain string, txt string",
            )
        ),
        name="robots",
    )
    rules = parse_robots(robots, "txt", "domain")
    shape = F.col("doc_id") % 5
    pathpart = F.concat(
        F.when(shape == 0, F.lit("/public/"))
        .when(shape == 1, F.lit("/private/"))
        .when(shape == 2, F.lit("/private/ok/"))
        .otherwise(F.lit("/tmp")),
        F.col("doc_id").cast("string"),
        F.when(shape == 3, F.lit(".bak"))
        .when(shape == 4, F.lit(".bak.txt"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("?sessionid="), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.lit("#frag?sessionid=9"))
        .otherwise(F.lit("")),
    )
    url = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit("https://unlisted-"), F.col("lang"), F.lit(".org/x")),
    ).when(
        F.col("doc_id") % 13 == 6,
        F.concat(F.lit("https://u@[2001:db8::1]:8080"), pathpart),
    ).otherwise(
        F.concat(
            F.lit("https://site-"), F.col("lang"), F.lit(".com"), pathpart
        )
    )
    d.compute_field("url", url)
    kept = filter_by_robots(d, rules, "url", keep_unlisted=False)
    return kept.df.select("doc_id", "url")


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<link rel=canonical> extraction (round 12): per-doc HTML
    synthesized over every shape — rel-before-href and href-before-rel,
    double/single/unquoted rel values, absolute / root-relative /
    relative-with-<base> targets, a non-http target (→ NULL), no
    canonical at all (→ NULL), and a rel=stylesheet decoy on every
    page; extract_canonical resolves against the effective base. The
    oracle replays the operator's own regex constants."""
    from littletable_spark.operators.urlops import extract_canonical

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<link rel="stylesheet" href="/style.css">'),
        F.when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit('<link rel="canonical" href="https://canon-'),
                     F.col("lang"), F.lit(".com/c/"),
                     (F.col("doc_id") % 13).cast("string"), F.lit('">')),
        ).when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("<link href='/canon/"),
                     (F.col("doc_id") % 7).cast("string"),
                     F.lit("' rel='canonical'>")),
        ).when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit('<head><base href="https://bh-'), F.col("lang"),
                     F.lit('.org/bb/"></head>'),
                     F.lit('<link rel=canonical href="rel/'),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit('.html#frag">')),
        ).when(
            F.col("doc_id") % 5 == 4,
            F.lit('<link rel="canonical" href="ftp://x.com/y">'),
        ).otherwise(F.lit("")),
    )
    base = F.concat(
        F.lit("https://site-"), F.col("lang"), F.lit(".com/d/"),
        (F.col("doc_id") % 7).cast("string"), F.lit("/p.html"),
    )
    d.compute_field("html", html)
    d.compute_field("url", base)
    out = extract_canonical(d, "html", "url", "doc_id")
    return out.df.select("doc_id", "canonical_url")


def _canonical_oracle_sql() -> str:
    """Generated from extract_canonical's own regex constants."""
    from littletable_spark.operators.urlops import (
        _BASE_DQ_RE,
        _BASE_SQ_RE,
        _CANON_HF_DQ,
        _CANON_HF_SQ,
        _CANON_RF_DQ,
        _CANON_RF_SQ,
        _DOT_SEG_ITERS,
        _DOTDOT_RE,
        _HOST_RE,
        _PATH_RE,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    def norm(expr: str) -> str:
        for _ in range(2):
            expr = f"regexp_replace({expr}, '/\\.(/|$)', '/', 'g')"
        for _ in range(_DOT_SEG_ITERS):
            expr = f"regexp_replace({expr}, '{q(_DOTDOT_RE)}', '/', 'g')"
            expr = f"regexp_replace({expr}, '^/\\.\\.(/|$)', '/', 'g')"
        return expr

    return f"""
        WITH d AS (
          SELECT doc_id,
                 '<link rel="stylesheet" href="/style.css">'
                 || CASE
                      WHEN doc_id % 5 = 1 THEN
                        '<link rel="canonical" href="https://canon-' || lang
                        || '.com/c/' || (doc_id % 13)::VARCHAR || '">'
                      WHEN doc_id % 5 = 2 THEN
                        '<link href=''/canon/' || (doc_id % 7)::VARCHAR
                        || ''' rel=''canonical''>'
                      WHEN doc_id % 5 = 3 THEN
                        '<head><base href="https://bh-' || lang
                        || '.org/bb/"></head><link rel=canonical href="rel/'
                        || (doc_id % 3)::VARCHAR || '.html#frag">'
                      WHEN doc_id % 5 = 4 THEN
                        '<link rel="canonical" href="ftp://x.com/y">'
                      ELSE '' END AS html,
                 'https://site-' || lang || '.com/d/' || (doc_id % 7)::VARCHAR || '/p.html' AS base
          FROM documents
        ),
        eb AS (
          SELECT doc_id, html,
                 CASE WHEN bref = '' THEN base
                      WHEN regexp_matches(bref, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN bref
                      WHEN bref LIKE '//%' THEN dsch || ':' || bref
                      WHEN bref LIKE '/%' THEN dsch || '://' || dauth || bref
                      ELSE dsch || '://' || dauth || ddir || bref
                 END AS base
          FROM (
            SELECT doc_id, html, base,
                   regexp_extract(
                     coalesce({_earliest_match_sql("html", (_BASE_DQ_RE, _BASE_SQ_RE))}, ''),
                     '^([^#]*)', 1) AS bref,
                   regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS dsch,
                   regexp_extract(base, '{q(_HOST_RE)}', 1) AS dauth,
                   regexp_replace(
                     CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                          THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END,
                     '[^/]*$', '') AS ddir
            FROM d
          )
        ),
        f AS (
          SELECT doc_id,
                 regexp_extract(
                   coalesce({_earliest_match_sql("html", (_CANON_RF_DQ, _CANON_RF_SQ, _CANON_HF_DQ, _CANON_HF_SQ))}, ''),
                   '^([^#]*)', 1) AS raw,
                 regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bsch,
                 regexp_extract(base, '{q(_HOST_RE)}', 1) AS bauth,
                 CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                      THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END
                   AS bpathfull,
                 regexp_replace(
                   CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                        THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END,
                   '[^/]*$', '') AS bdir
          FROM eb
        ),
        r AS (
          SELECT doc_id,
                 CASE
                   WHEN raw = '' THEN NULL
                   WHEN regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN
                     CASE WHEN regexp_matches(raw, '^(?i)https?://') THEN raw
                          ELSE NULL END
                   WHEN raw LIKE '//%' THEN bsch || ':' || raw
                   WHEN raw LIKE '/%' THEN bsch || '://' || bauth || {norm("raw")}
                   WHEN raw LIKE '?%' THEN bsch || '://' || bauth || bpathfull || raw
                   ELSE bsch || '://' || bauth || {norm("bdir || raw")}
                 END AS link
          FROM f
        )
        SELECT doc_id,
               CASE WHEN regexp_matches(link, '^(?i)https?://[^/?#]+')
                    THEN link ELSE NULL END AS canonical_url
        FROM r
    """


def q_url_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link discovery (round 11, widened round 12): per-doc HTML
    synthesized with every href shape — absolute (kept), other-scheme
    (dropped), scheme-relative //, root-relative /, QUERY-ONLY ?page=
    (RFC 3986 §5.3: keeps the full base path), relative with ../ and
    ./ dot segments, fragments, single- and double-quoted attributes,
    <area href> image-map links, and a <base href> on some docs
    (absolute on doc_id%4==1, root-relative on %4==2) that re-roots
    every relative link — extracted and RFC 3986-resolved against the
    page's EFFECTIVE base by extract_links; the oracle replays the
    SAME regex constants and bounded dot-segment normalization
    (generated from the operator's own module, no drift)."""
    from littletable_spark.operators.urlops import extract_links

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit('<head><base href="https://bh-'), F.col("lang"),
                     F.lit('.com/bb/x.html"></head>')),
        ).when(
            F.col("doc_id") % 4 == 2,
            F.lit("<head><base href='/newroot/'></head>"),
        ).otherwise(F.lit("")),
        F.lit('<a href="https://ext-'), F.col("lang"), F.lit(".org/a/"),
        did, F.lit('">x</a>'),
        F.lit("<a href='//cdn-"), F.col("lang"), F.lit(".net/c/"),
        (F.col("doc_id") % 9).cast("string"), F.lit("'>y</a>"),
        F.lit('<a href="/r/'), (F.col("doc_id") % 5).cast("string"),
        F.lit('?q=1#frag">z</a>'),
        F.lit('<a href="rel/'), (F.col("doc_id") % 3).cast("string"),
        F.lit('.html">r</a>'),
        F.lit('<a href="?page='), (F.col("doc_id") % 6).cast("string"),
        F.lit('#top">p</a>'),
        F.lit("<area shape='rect' href='/map/"),
        (F.col("doc_id") % 11).cast("string"), F.lit("'>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<a href="../up/./'), did, F.lit('.html">u</a>')),
        ).otherwise(F.lit('<a href="mailto:a@b.c">m</a><a href="#s">s</a>')),
    )
    # every doc_id%8==3 page lives on a bracketed-IPv6 authority
    # (round 13): relative/root-relative/query-only hrefs must resolve
    # against the full '[2001:db8::7]:8443' authority in both engines
    base = F.when(
        F.col("doc_id") % 8 == 3,
        F.concat(
            F.lit("https://[2001:db8::7]:8443/d/"),
            (F.col("doc_id") % 7).cast("string"), F.lit("/p.html"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://site-"), F.col("lang"), F.lit(".com/d/"),
            (F.col("doc_id") % 7).cast("string"), F.lit("/p.html"),
        )
    )
    d.compute_field("html", html)
    d.compute_field("url", base)
    out = extract_links(d, "html", "url", "doc_id")
    return out.df.select("doc_id", "link")


def _links_oracle_sql() -> str:
    """Generated from extract_links' own regex constants so the two
    can never drift (same pattern as _langid_oracle_sql)."""
    from littletable_spark.operators.urlops import (
        _AREA_DQ_RE,
        _AREA_SQ_RE,
        _BASE_DQ_RE,
        _BASE_SQ_RE,
        _DOT_SEG_ITERS,
        _DOTDOT_RE,
        _HOST_RE,
        _HREF_DQ_RE,
        _HREF_SQ_RE,
        _PATH_RE,
    )

    def q(s: str) -> str:  # SQL single-quote escape
        return s.replace("'", "''")

    def norm(expr: str) -> str:
        for _ in range(2):
            expr = f"regexp_replace({expr}, '/\\.(/|$)', '/', 'g')"
        for _ in range(_DOT_SEG_ITERS):
            expr = f"regexp_replace({expr}, '{q(_DOTDOT_RE)}', '/', 'g')"
            expr = f"regexp_replace({expr}, '^/\\.\\.(/|$)', '/', 'g')"
        return expr

    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 1
                      THEN '<head><base href="https://bh-' || lang || '.com/bb/x.html"></head>'
                      WHEN doc_id % 4 = 2
                      THEN '<head><base href=''/newroot/''></head>'
                      ELSE '' END
                 || '<a href="https://ext-' || lang || '.org/a/' || doc_id::VARCHAR || '">x</a>'
                 || '<a href=''//cdn-' || lang || '.net/c/' || (doc_id % 9)::VARCHAR || '''>y</a>'
                 || '<a href="/r/' || (doc_id % 5)::VARCHAR || '?q=1#frag">z</a>'
                 || '<a href="rel/' || (doc_id % 3)::VARCHAR || '.html">r</a>'
                 || '<a href="?page=' || (doc_id % 6)::VARCHAR || '#top">p</a>'
                 || '<area shape=''rect'' href=''/map/' || (doc_id % 11)::VARCHAR || '''>'
                 || CASE WHEN doc_id % 2 = 0
                      THEN '<a href="../up/./' || doc_id::VARCHAR || '.html">u</a>'
                      ELSE '<a href="mailto:a@b.c">m</a><a href="#s">s</a>' END
                 AS html,
                 CASE WHEN doc_id % 8 = 3
                      THEN 'https://[2001:db8::7]:8443/d/' || (doc_id % 7)::VARCHAR || '/p.html'
                      ELSE 'https://site-' || lang || '.com/d/' || (doc_id % 7)::VARCHAR || '/p.html'
                 END AS base
          FROM documents
        ),
        eb AS (
          SELECT doc_id, html,
                 CASE WHEN bref = '' THEN base
                      WHEN regexp_matches(bref, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN bref
                      WHEN bref LIKE '//%' THEN dsch || ':' || bref
                      WHEN bref LIKE '/%' THEN dsch || '://' || dauth || bref
                      ELSE dsch || '://' || dauth || ddir || bref
                 END AS base
          FROM (
            SELECT doc_id, html, base,
                   regexp_extract(
                     coalesce({_earliest_match_sql("html", (_BASE_DQ_RE, _BASE_SQ_RE))}, ''),
                     '^([^#]*)', 1) AS bref,
                   regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS dsch,
                   regexp_extract(base, '{q(_HOST_RE)}', 1) AS dauth,
                   regexp_replace(
                     CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                          THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END,
                     '[^/]*$', '') AS ddir
            FROM d
          )
        ),
        e AS (
          SELECT doc_id, base, unnest(list_concat(list_concat(list_concat(
                   regexp_extract_all(html, '{q(_HREF_DQ_RE)}', 1),
                   regexp_extract_all(html, '{q(_HREF_SQ_RE)}', 1)),
                   regexp_extract_all(html, '{q(_AREA_DQ_RE)}', 1)),
                   regexp_extract_all(html, '{q(_AREA_SQ_RE)}', 1))) AS rawh
          FROM eb
        ),
        f AS (
          SELECT doc_id,
                 regexp_extract(rawh, '^([^#]*)', 1) AS raw,
                 regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bsch,
                 regexp_extract(base, '{q(_HOST_RE)}', 1) AS bauth,
                 CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                      THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END
                   AS bpathfull,
                 regexp_replace(
                   CASE WHEN regexp_extract(base, '{q(_PATH_RE)}', 1) = ''
                        THEN '/' ELSE regexp_extract(base, '{q(_PATH_RE)}', 1) END,
                   '[^/]*$', '') AS bdir
          FROM e
        ),
        r AS (
          SELECT doc_id,
                 CASE
                   WHEN raw = '' THEN NULL
                   WHEN regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN
                     CASE WHEN regexp_matches(raw, '^(?i)https?://') THEN raw
                          ELSE NULL END
                   WHEN raw LIKE '//%' THEN bsch || ':' || raw
                   WHEN raw LIKE '/%' THEN bsch || '://' || bauth || {norm("raw")}
                   WHEN raw LIKE '?%' THEN bsch || '://' || bauth || bpathfull || raw
                   ELSE bsch || '://' || bauth || {norm("bdir || raw")}
                 END AS link
          FROM f
        )
        SELECT doc_id, link FROM r
        WHERE link IS NOT NULL AND link <> ''
          AND regexp_matches(link, '^(?i)https?://[^/?#]+')
    """


def q_url_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link-graph authority scoring (round 11): 3 damped power
    iterations with dangling-mass redistribution over a synthesized
    link graph (src = doc_id%83, dst = (7·doc_id+3)%97 — nodes ≥83
    are dangling sinks, duplicate edges count per occurrence). The
    oracle replays the SAME three iterations as a generated CTE chain;
    ranks compare at the gate's 1e-6 rounding, far above float
    reorder noise. Feed ranks into schedule_fetches(priority_col=)
    for authority-first crawling."""
    from littletable_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    edges = Table.from_df(
        d.df.select(
            (F.col("doc_id") % 83).cast("long").alias("src"),
            ((F.col("doc_id") * 7 + 3) % 97).cast("long").alias("dst"),
        ),
        name="links",
    )
    pr = pagerank(edges, iterations=3)
    return pr.df.select("node", "rank")


def q_url_pagerank_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warm-start + personalized pagerank (round 12) — the RECRAWL
    shape: ranks from a PRIOR crawl (2 cold iterations over the
    subgraph with src%4!=0) seed the iteration over the GROWN graph
    (all edges), renormalized over the new node set with new nodes at
    1/N; the teleport vector is a personalization over seed nodes
    0,10,…,90 with weight node+1 (normalized over seeds present).
    Two warm iterations then run with dangling mass redistributed
    through the personalization vector. The oracle replays both
    phases as one generated CTE chain."""
    from littletable_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    all_edges = d.df.select(
        (F.col("doc_id") % 83).cast("long").alias("src"),
        ((F.col("doc_id") * 7 + 3) % 97).cast("long").alias("dst"),
    )
    prior_edges = Table.from_df(
        all_edges.where(F.col("src") % 4 != 0), name="links_prior"
    )
    prior = pagerank(prior_edges, iterations=2)
    seeds = Table.from_df(
        spark.range(0, 97, 10).select(
            F.col("id").cast("long").alias("node"),
            (F.col("id") + 1).cast("double").alias("weight"),
        ),
        name="seeds",
    )
    edges = Table.from_df(all_edges, name="links")
    pr = pagerank(
        edges,
        iterations=2,
        against_ranks=prior,
        personalization=seeds,
    )
    return pr.df.select("node", "rank")


def _pagerank_warm_oracle_sql(d: float = 0.85) -> str:
    """Both pagerank phases (cold prior on the subgraph, then
    warm-start + personalized on the full graph) as one CTE chain —
    the same arithmetic the operator runs, engine-portably."""

    def iter_block(k: int, prev: str, pfx: str, teleport: str) -> str:
        e, deg, nodes = f"{pfx}e", f"{pfx}deg", f"{pfx}nodes"
        return f""",
        {pfx}c{k} AS (
          SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS contrib
          FROM {prev} r
          JOIN {deg} deg ON r.node = deg.src
          JOIN {e} e ON e.src = r.node
          GROUP BY e.dst
        ),
        {pfx}dang{k} AS (
          SELECT coalesce(sum(r.rank), 0) AS m
          FROM {prev} r LEFT JOIN {deg} deg ON r.node = deg.src
          WHERE deg.src IS NULL
        ),
        {pfx}r{k} AS (
          SELECT n.node,
                 (1 - {d}) * {teleport}
                 + {d} * (coalesce(c.contrib, 0)
                          + (SELECT m FROM {pfx}dang{k}) * {teleport}) AS rank
          FROM {nodes} n
          {"JOIN pv ON n.node = pv.node" if pfx == "w" else "CROSS JOIN ann"}
          LEFT JOIN {pfx}c{k} c ON n.node = c.node
        )"""

    parts = [
        """
        WITH alledges AS (
          SELECT (doc_id % 83)::BIGINT AS src,
                 ((doc_id * 7 + 3) % 97)::BIGINT AS dst
          FROM documents
        ),
        ae AS (SELECT src, dst FROM alledges WHERE src % 4 <> 0),
        anodes AS (
          SELECT DISTINCT src AS node FROM ae
          UNION SELECT DISTINCT dst AS node FROM ae
        ),
        ann AS (SELECT count(*)::DOUBLE AS n FROM anodes),
        adeg AS (
          SELECT src, count(*)::DOUBLE AS outdeg FROM ae GROUP BY src
        ),
        ar0 AS (
          SELECT node, (SELECT 1.0 / n FROM ann) AS rank FROM anodes
        )"""
    ]
    prev = "ar0"
    for k in (1, 2):
        parts.append(iter_block(k, prev, "a", "(1.0 / ann.n)"))
        prev = f"ar{k}"
    parts.append(f""",
        we AS (SELECT src, dst FROM alledges),
        wnodes AS (
          SELECT DISTINCT src AS node FROM we
          UNION SELECT DISTINCT dst AS node FROM we
        ),
        wnn AS (SELECT count(*)::DOUBLE AS n FROM wnodes),
        wdeg AS (
          SELECT src, count(*)::DOUBLE AS outdeg FROM we GROUP BY src
        ),
        seeds AS (
          SELECT i::BIGINT AS node, (i + 1)::DOUBLE AS w
          FROM (SELECT unnest(generate_series(0, 96, 10)) AS i)
        ),
        pv AS (
          SELECT n.node,
                 coalesce(s.w, 0)
                 / (SELECT sum(coalesce(s2.w, 0))
                    FROM wnodes n2 LEFT JOIN seeds s2 ON n2.node = s2.node)
                 AS pv
          FROM wnodes n LEFT JOIN seeds s ON n.node = s.node
        ),
        w0raw AS (
          SELECT n.node,
                 coalesce(p.rank, (SELECT 1.0 / n FROM wnn)) AS r
          FROM wnodes n LEFT JOIN {prev} p ON n.node = p.node
        ),
        wr0 AS (
          SELECT node, r / (SELECT sum(r) FROM w0raw) AS rank FROM w0raw
        )""")
    prev = "wr0"
    for k in (1, 2):
        parts.append(iter_block(k, prev, "w", "pv.pv"))
        prev = f"wr{k}"
    parts.append(f"\n        SELECT node, rank FROM {prev}")
    return "".join(parts)


def _pagerank_oracle_sql(iters: int = 3, d: float = 0.85) -> str:
    """The same damped power iteration as a generated CTE chain."""
    parts = [
        """
        WITH edges AS (
          SELECT (doc_id % 83)::BIGINT AS src,
                 ((doc_id * 7 + 3) % 97)::BIGINT AS dst
          FROM documents
        ),
        nodes AS (
          SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst AS node FROM edges
        ),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        deg AS (
          SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src
        ),
        r0 AS (
          SELECT node, (SELECT 1.0 / n FROM nn) AS rank FROM nodes
        )"""
    ]
    prev = "r0"
    for k in range(1, iters + 1):
        parts.append(f""",
        c{k} AS (
          SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS contrib
          FROM {prev} r
          JOIN deg ON r.node = deg.src
          JOIN edges e ON e.src = r.node
          GROUP BY e.dst
        ),
        dang{k} AS (
          SELECT coalesce(sum(r.rank), 0) AS m
          FROM {prev} r LEFT JOIN deg ON r.node = deg.src
          WHERE deg.src IS NULL
        ),
        r{k} AS (
          SELECT n.node,
                 (1 - {d}) / nn.n
                 + {d} * (coalesce(c.contrib, 0)
                          + (SELECT m FROM dang{k}) / nn.n) AS rank
          FROM nodes n
          CROSS JOIN nn
          LEFT JOIN c{k} c ON n.node = c.node
        )""")
        prev = f"r{k}"
    parts.append(f"\n        SELECT node, rank FROM {prev}")
    return "".join(parts)


def q_url_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-host politeness scheduling (round 11): robots.txt
    Crawl-delay values (parsed per-lang domain, delay derived from the
    lang's first letter so the oracle can replay it arithmetically)
    drive schedule_fetches — per-host priority-desc rank windows space
    fetches crawl_delay seconds apart; unlisted hosts (every 13th doc)
    and a bracketed-IPv6 host (doc_id%13==6, round 13 — its own window
    partition only if the shared host chain parses the brackets) take
    the scheduler default. Covers robots_crawl_delays (previously
    test-only) AND the keyed-window family in one gate row."""
    from littletable_spark.operators.robots import (
        robots_crawl_delays,
        schedule_fetches,
    )

    d = _t(spark, sf_dir, "documents")
    dly = (F.ascii(F.substring(F.col("lang"), 1, 1)) % 3 + 1).cast("int")
    robots = Table.from_df(
        d.df.select("lang")
        .distinct()
        .select(
            F.concat(F.lit("site-"), F.col("lang"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                dly.cast("string"),
                F.lit("\n"),
            ).alias("txt"),
        ),
        name="robots",
    )
    delays = robots_crawl_delays(robots, "txt", "domain", default_delay=1.0)
    url = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.lit("https://unlisted-"), F.col("lang"), F.lit(".org/p/"),
            F.col("doc_id").cast("string"),
        ),
    ).when(
        F.col("doc_id") % 13 == 6,
        F.concat(
            F.lit("https://[2001:db8::a]:8443/p/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://site-"), F.col("lang"), F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        )
    )
    d.compute_field("url", url)
    d.compute_field("prio", (F.col("doc_id") % 7).cast("int"))
    frontier = Table.from_df(
        d.df.select("doc_id", "url", "prio"), name="frontier"
    )
    out = schedule_fetches(
        frontier, delays, priority_col="prio", default_delay=0.5
    )
    return out.df.select("doc_id", "url", "prio", "fetch_at")


def q_text_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-(lang, source) curation report (round 9): doc counts, empty
    counts, char/token totals and means, exact p50/p95 token counts —
    one projection + one map-combined groupBy; Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` interpolate
    bit-identically, so the whole report is oracle-checked."""
    from littletable_spark.operators.stats import corpus_report

    d = _t(spark, sf_dir, "documents")
    return corpus_report(d, "text", by=("lang", "source")).df


def q_text_pack_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """training-ready packed sequences (round-9 pack_token_ids): docs
    get pack coordinates from pack_sequences, then every member doc's
    token-id array is concatenated per (shard, pack) in id order — one
    groupBy shuffle, array_sort(struct)+flatten, no UDF.

    BPE ids have no SQL oracle (iterative merges), so the gated id
    column is a SQL-derivable stand-in — per-token character lengths
    of the whitespace split — which drives the EXACT aggregation the
    BPE path uses (order, coverage, totals). Ids '|'-join to a scalar
    column for the gate hasher, like text_filter_quality's rule list."""
    from littletable_spark.operators.bpe import pack_token_ids
    from littletable_spark.operators.textops import pack_sequences

    d = _t(spark, sf_dir, "documents")
    packed = pack_sequences(
        d, "text", "doc_id", budget_tokens=256, n_shards=8, salt="pack"
    )
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    ids = d.df.select(
        F.col("doc_id"),
        F.transform(toks, lambda t: F.length(t)).alias("token_ids"),
    )
    joined = packed.df.select("doc_id", "shard", "pack").join(ids, "doc_id")
    out = pack_token_ids(Table.from_df(joined, name="packed_ids"), "doc_id")
    return out.df.select(
        "shard",
        "pack",
        "n_docs",
        "n_tokens",
        F.array_join(
            F.transform("token_ids", lambda x: x.cast("string")), "|"
        ).alias("ids_str"),
    )


def q_text_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer lifecycle: train merges over the corpus (one
    distributed word-count shuffle + driver merge loop over the bounded
    word dict), Arrow-batched apply with a broadcast ranks table, then
    pack documents into fixed-budget sequences weighted by REAL
    tokenizer token counts (weight_col=) instead of whitespace counts.

    No DuckDB oracle: the merge loop is iterative and not
    SQL-expressible — the driver's correctness artifact records
    ``err: "no_oracle"`` with null match fields (spark_rows only);
    correctness is pinned by tests/test_bpe.py (differential vs a
    brute-force reference trainer, greedy-encode vs sequential merge
    replay, hand-computed merges). Deterministic end-to-end: word
    ordering, tie-breaks, and md5 sharding are all fixed."""
    from littletable_spark.operators.bpe import apply_bpe, train_bpe
    from littletable_spark.operators.textops import pack_sequences

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, "text", num_merges=60, max_words=5000)
    counts = apply_bpe(d, "text", "doc_id", merges)
    # pack_sequences with weight_col= reads ONLY (id, weight) — both on
    # the apply_bpe output — so the old join back to the documents table
    # was a row-preserving no-op (apply_bpe emits exactly one row per
    # corpus row; inner-join on the unique id re-attached columns the
    # pack never read). Feeding the counts directly removes that join —
    # at corpus scale a full doc-side exchange (guide §2.4); the
    # isNotNull filter reproduces the inner join's only row effect
    # (a NULL id never matches itself), keeping results identical by
    # construction, not by data. Row-identity verified at sf0.001/0.01/
    # 0.1 (see OPTIMIZATION_r15.md). Premise: doc_id is unique in the
    # documents table. Under duplicate ids the old inner join fanned out
    # to k² rows per id repeated k times (each of the k count rows
    # matched all k documents), so the two shapes agree only while ids
    # are unique.
    out = pack_sequences(
        Table.from_df(counts.df.where(F.col("doc_id").isNotNull())),
        "text", "doc_id", budget_tokens=512, n_shards=8,
        salt="bpe", weight_col="n_bpe_tokens",
    )
    return out.select("doc_id n_tokens shard pack pack_offset").df


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark decontamination: per eval doc (doc_id % 17 == 0), the
    fraction of its 8-gram hashes found anywhere in the training corpus
    (the remaining docs) — broadcast semi-join plan, corpus shingles
    never shuffled."""
    from littletable_spark.operators.textops import contamination_check

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 17 == 0)
    corpus = d.where(F.col("doc_id") % 17 != 0)
    out = contamination_check(corpus, bench, "doc_id", "doc_id", n=8)
    return out.select("doc_id n_ngrams n_contaminated contamination").df


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hypertable-style multi-resolution rollup (1h + 1d tiers) over the
    events table — one scan, one shuffle for every tier together."""
    from littletable_spark.streaming.events import time_rollup

    e = _ev(spark, sf_dir)
    out = time_rollup(
        e,
        resolutions=(3600, 86400),
        keys=("event_type",),
        n_events=F.count(F.lit(1)),
        total_value=F.round(F.sum("value"), 2),
    )
    return out.df


_PRICE_BANDS = [(f"b{i}", 50_000.0 * i, 50_000.0 * (i + 1)) for i in range(8)]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range join: orders priced into half-open 50k bands via the
    binning rewrite (equi-join on bin, no nested loop)."""
    from littletable_spark.operators.joins import range_join

    o = _t(spark, sf_dir, "orders")
    bands = Table.from_df(
        small_df(spark, _PRICE_BANDS, "band string, lo double, hi double")
    )
    out = range_join(
        o, bands, "o_totalprice", "lo", "hi",
        bucket_width=50_000.0, hi_inclusive=False,
    )
    return out.select("o_orderkey o_totalprice band").df


def q_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic Bernoulli sample (md5 hash keyed on doc_id) — the
    shuffle-free, re-shard-stable sampling primitive (sampling.py)."""
    from littletable_spark.operators.sampling import sample_hash

    d = _t(spark, sf_dir, "documents")
    out = sample_hash(d, "doc_id", 0.25, salt="r4")
    return out.select("doc_id lang source").df


def q_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic fixed-k minwise sample: the k smallest key hashes
    (TakeOrderedAndProject — per-partition top-k, k-row driver merge)."""
    from littletable_spark.operators.sampling import sample_fixed

    d = _t(spark, sf_dir, "documents")
    out = sample_fixed(d, "doc_id", 40, salt="r4")
    return out.select("doc_id lang").df


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic train/test split: disjoint, union = input, side
    assignment stable under re-sharding (late shards can't leak)."""
    from littletable_spark.operators.sampling import split_train_test

    d = _t(spark, sf_dir, "documents")
    train, test = split_train_test(d, "doc_id", 0.2, salt="split")
    t1 = train.select("doc_id").df.withColumn("side", F.lit("train"))
    t2 = test.select("doc_id").df.withColumn("side", F.lit("test"))
    return t1.unionByName(t2)


_MIX_WEIGHTS = {"en": 0.6, "de": 0.3, "fr": 0.1}


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic mixture resampling: thin each language to the
    target 60/30/10 proportions at the max feasible volume (the
    scarcest source relative to its weight is kept whole) — the
    data-mixing step of corpus assembly (sampling.py)."""
    from littletable_spark.operators.sampling import resample_to_mixture

    d = _t(spark, sf_dir, "documents")
    out = resample_to_mixture(d, "lang", _MIX_WEIGHTS, key_col="doc_id", salt="mix")
    return out.select("doc_id lang").df


def q_text_filter_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filtering with an audit trail: keep flag +
    the array of violated rules per doc (fixed rule order), so curation
    decisions are explainable and per-rule rejection rates aggregable
    (textops.filter_quality; narrow projection, scan-speed).

    Round 14: every doc_id%13==0 doc's text is REPLACED by a pure-CJK
    paragraph (length varies with doc_id) so the CJK-dominant
    exemption of the word-shaped rules (mean_token_len,
    stopword_ratio) and the per-char token counts hash-gate."""
    from littletable_spark.operators.textops import filter_quality

    d = _t(spark, sf_dir, "documents")
    d.compute_field(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.repeat(
                F.lit("中文字符的段落テスト"),
                (F.col("doc_id") % 7 + 5).cast("int"),
            ),
        ).otherwise(F.col("text")),
    )
    out = filter_quality(d, "text", "doc_id")
    # the Table-level operator returns failed_rules as a real
    # array<string>; the gate serializes it ('|'-joined, fixed rule
    # order) because the driver's pandas canonicalizer can't hash list
    # cells (round-6 gate err) — scalar outputs only in the registry
    return out.df.select(
        "doc_id",
        "n_tokens",
        "mean_token_len",
        "symbol_ratio",
        "stopword_ratio",
        F.array_join("failed_rules", "|").alias("failed_rules"),
        "keep",
    )


def q_sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-group quota: at most 10 docs per source, chosen by a
    deterministic minwise rank inside the group (the per-domain cap
    step of corpus curation; re-shard-stable, nested in the cap,
    WindowGroupLimit bounds skewed groups map-side — sampling.py)."""
    from littletable_spark.operators.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents")
    out = cap_per_group(d, "source", 10, key_col="doc_id", salt="cap")
    return out.select("doc_id source").df


def q_sample_cap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted per-group quota: at most 4000 CHARS of text per source
    (the token-budget form mixtures are actually specified in) — the
    strict prefix of the same minwise order whose running n_chars sum
    fits. min_weight=40 is a true lower bound on doc length here, so
    the rank pre-filter restores the map-side WindowGroupLimit bound
    (sampling.py:cap_per_group weight_col=). Binds at every SF: each
    source carries ≥7k chars."""
    from littletable_spark.operators.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents")
    out = cap_per_group(
        d, "source", 4000, key_col="doc_id", salt="tok",
        weight_col="n_chars", min_weight=40,
    )
    return out.select("doc_id source n_chars").df


def _mixture_oracle_sql() -> str:
    """DuckDB mirror of resample_to_mixture: identical normalized weight
    literals (cast to DOUBLE — DuckDB decimal literals would otherwise
    diverge from Spark's double arithmetic) and the same operation
    order, so the per-source fraction thresholds agree bit-for-bit."""
    total = float(sum(_MIX_WEIGHTS.values()))
    norm = {k: float(v) / total for k, v in sorted(_MIX_WEIGHTS.items())}
    case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN ({v!r})::DOUBLE" for k, v in norm.items())
        + " END"
    )
    return f"""
            WITH c AS (
              SELECT lang, count(*) AS n, {case} AS w
              FROM documents GROUP BY lang
            ), t AS (
              SELECT min(n / w) AS t FROM c WHERE w IS NOT NULL
            ), f AS (
              SELECT lang, w * t.t / n AS frac FROM c, t WHERE w IS NOT NULL
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f ON d.lang = f.lang
            WHERE {_hash_bucket_sql('d.doc_id', 'mix')} < 4294967296 * frac
        """


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-stratum deterministic sampling (reproducible sampleBy)."""
    from littletable_spark.operators.sampling import sample_stratified

    d = _t(spark, sf_dir, "documents")
    out = sample_stratified(
        d, "lang", {"en": 0.5, "de": 0.2}, key_col="doc_id", salt="strat", default=0.1
    )
    return out.select("doc_id lang").df


# DuckDB mirror of sampling.hash_bucket (md5-prefix hash, chr(0) NULL
# sentinel); fraction f keeps h < 4294967296 * f.
def _hash_bucket_sql(key: str, salt: str) -> str:
    return (
        "('0x' || substring(md5(coalesce(CAST(" + key + " AS VARCHAR), chr(0)) || '"
        + salt + "'), 1, 8))::BIGINT"
    )


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry. ORDER MATTERS: the driver's correctness gate takes
    the first 50 entries, so those are the highest-signal queries, all
    oracle-checked. A new query enters the gate first and parks a gated
    query with an in-gate sibling on the same code path. Why a query is
    shaped as it is sits in its ``q_`` docstring; the rotation history
    is in git.

    The local mirror (scripts/verify_oracle.py) runs every query every
    round, rows-only where no oracle exists."""
    return {
        "join_3way_agg": q_join_3way_agg,
        "dedup_lines": q_dedup_lines,
        "text_filter_quality": q_text_filter_quality,
        "url_links": q_url_links,
        "asof_join": q_asof_join,
        "upsert_merge": q_upsert_merge,
        "groupby_summaries": q_groupby_summaries,
        "groupby_runs": q_groupby_runs,
        "stream_ingest_compact": q_stream_ingest_compact,
        "stats": q_stats,
        "url_schedule": q_url_schedule,
        "tpch_q3_shape": q_tpch_q3_shape,
        "text_corpus_report": q_text_corpus_report,
        "stream_ingest_dedup": q_stream_ingest_dedup,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_incr": q_dedup_minhash_incr,
        "text_pack_ids": q_text_pack_ids,
        "dedup_spans_incr": q_dedup_spans_incr,
        "url_canon": q_url_canon,
        "url_robots": q_url_robots,
        "dedup_clusters": q_dedup_clusters,
        "url_features": q_url_features,
        "multimodal_image_dedup": q_multimodal_image_dedup,
        "dedup_embedding_lsh_incr": q_dedup_embedding_lsh_incr,
        "dedup_semantic": q_dedup_semantic,
        "dedup_semantic_incr": q_dedup_semantic_incr,
        "sim_ivf_incr": q_sim_ivf_incr,
        "sim_f32_topk": q_sim_f32_topk,
        "multimodal_audio_dedup": q_multimodal_audio_dedup,
        "text_quality_clf": q_text_quality_clf,
        "text_bigram_logprob": q_text_bigram_logprob,
        "text_bm25_incr": q_text_bm25_incr,
        "url_pagerank": q_url_pagerank,
        "sample_cap_tokens": q_sample_cap_tokens,
        "sim_ivf_pq": q_sim_ivf_pq,
        "text_chunks": q_text_chunks,
        "text_contamination": q_text_contamination,
        "url_pagerank_warm": q_url_pagerank_warm,
        "url_canonical": q_url_canonical,
        "office_extract": q_office_extract,
        "text_tokens": q_text_tokens,
        "pivot_sum": q_pivot_sum,
        "update_where": q_update_where,
        "anti_join": q_anti_join,
        "cube": q_cube,
        "rollup": q_rollup,
        "grouping_sets": q_grouping_sets,
        "window_topk_per_group": q_window_topk_per_group,
        "media_info": q_media_info,
        "archive_extract": q_archive_extract,
        # ---- parked beyond the driver's 50-query window ----
        "window_moving_avg": q_window_moving_avg,
        "search_raw": q_search_raw,
        "slice_positional": q_slice_positional,
        "outer_join_full": q_outer_join_full,
        "events_sliding": q_events_sliding,
        "sample_split": q_sample_split,
        "join_dsl": q_join_dsl,
        "text_repetition": q_text_repetition,
        "explode_embedding": q_explode_embedding,
        "semi_join": q_semi_join,
        "sample_stratified": q_sample_stratified,
        "orderby_head": q_orderby_head,
        "rank": q_rank,
        "delete": q_delete,
        "head_tail": q_head_tail,
        "range_join": q_range_join,
        "events_rollup": q_events_rollup,
        "sample_weighted": q_sample_weighted,
        "search_text": q_search_text,
        "sim_cluster": q_sim_cluster,
        "where_comparators": q_where_comparators,
        "compute_field": q_compute_field,
        "unique": q_unique,
        "skew_report": q_skew_report,
        "multimodal_meta": q_multimodal_meta,
        "convert_numeric": q_convert_numeric,
        "sample_cap_per_group": q_sample_cap_per_group,
        # no SQL oracle (iterative merges): a gated row could only be
        # rows-only, so it runs in the mirror
        "text_bpe_pack": q_text_bpe_pack,
        "text_logprob": q_text_logprob,
        "text_pack": q_text_pack,
        "outer_join_left": q_outer_join_left,
        "multimodal_audio": q_multimodal_audio,
        "dedup_simhash": q_dedup_simhash,
        "events_dedup_stream": q_events_dedup_stream,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_spans": q_dedup_spans,
        "text_tfidf_incr": q_text_tfidf_incr,
        "sample_epoch": q_sample_epoch,
        "sample_mixture": q_sample_mixture,
        "pivot_counts": q_pivot_counts,
        "text_quality": q_text_quality,
        "sim_ivf_topk": q_sim_ivf_topk,
        "text_tfidf": q_text_tfidf,
        "text_bm25": q_text_bm25,
        "where_predicates": q_where_predicates,
        "select_computed": q_select_computed,
        "splitby": q_splitby,
        "union": q_union,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "slice_range": q_slice_range,
        "events_session": q_events_session,
        "multimodal_decode": q_multimodal_decode,
        "text_pii_scrub": q_text_pii_scrub,
        "sim_cosine_topk": q_sim_cosine_topk,
        "agg_distinct": q_agg_distinct,
        "sample_fixed": q_sample_fixed,
        "sample_uniform": q_sample_uniform,
        "events_tumbling": q_events_tumbling,
        "dedup_spans_remove": q_dedup_spans_remove,
        "dedup_minhash": q_dedup_minhash,
        "text_fingerprint": q_text_fingerprint,
        "dedup_fingerprint": q_dedup_fingerprint,
        "sim_lsh_topk": q_sim_lsh_topk,
        "text_langid": q_text_langid,
        "dedup_embedding": q_dedup_embedding,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_join_3way_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry()


# DuckDB mirror of the MinHash+LSH candidate pipeline (dedup.py:
# minhash_lsh_pairs, n=3 / 8 hashes / 4 bands of 2) — shared by the
# dedup_minhash oracle and, wrapped in a recursive-CTE connected-
# components pass, the dedup_clusters oracle.
_MINHASH_PAIRS_SQL = """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i) g
            ), mh AS (
              SELECT doc_id,
                     min(md5(s || ':0')) AS m0, min(md5(s || ':1')) AS m1,
                     min(md5(s || ':2')) AS m2, min(md5(s || ':3')) AS m3,
                     min(md5(s || ':4')) AS m4, min(md5(s || ':5')) AS m5,
                     min(md5(s || ':6')) AS m6, min(md5(s || ':7')) AS m7
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS band_key FROM mh
              UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh
              UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh
              UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh
            )
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        """


def _ingest_oracle_sql() -> str:
    """DuckDB mirror of the curated-ingestion sink over the two-batch
    doc_id-parity split (streaming/ingest.py:ingest_batch): per batch a
    greedy within-batch drop (every id2 of a candidate pair), then the
    new batch probed against the SURVIVORS of prior batches only. The
    band CTEs are shared with _MINHASH_PAIRS_SQL — a signature depends
    only on its own doc's text, so one bands table serves every side."""
    prefix = _MINHASH_PAIRS_SQL[: _MINHASH_PAIRS_SQL.rindex("SELECT DISTINCT")]
    prefix = prefix.rstrip()  # ends at the bands CTE's closing paren
    assert prefix.endswith(")")
    return prefix + """, pw0 AS (
              SELECT DISTINCT b.doc_id AS id2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
              WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0
            ), kept0 AS (
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 0
                AND doc_id NOT IN (SELECT id2 FROM pw0)
            ), pw1 AS (
              SELECT DISTINCT b.doc_id AS id2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
              WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
            ), kept1a AS (
              SELECT doc_id FROM documents
              WHERE doc_id % 2 = 1
                AND doc_id NOT IN (SELECT id2 FROM pw1)
            ), px AS (
              SELECT DISTINCT a.doc_id AS id1
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
              WHERE a.doc_id IN (SELECT doc_id FROM kept1a)
                AND b.doc_id IN (SELECT doc_id FROM kept0)
            )
            SELECT doc_id, CAST(0 AS INTEGER) AS batch_id FROM kept0
            UNION ALL
            SELECT doc_id, CAST(1 AS INTEGER) AS batch_id FROM kept1a
            WHERE doc_id NOT IN (SELECT id1 FROM px)
        """


def _ingest_compact_oracle_sql() -> str:
    """DuckDB mirror of the compacting-ingest lifecycle
    (q_stream_ingest_compact): three doc_id%3 micro-batches with a
    full asset compaction between batch 1 and batch 2. Compaction is
    pure layout — the dedup decisions must be IDENTICAL to a
    never-compacted run — so the oracle is the straight 3-batch
    greedy-then-probe recurrence; the only compaction-visible output
    is the batch_id lineage column, which is -2 (the folded
    generation: ids 0,1 consumed, max abs 1 -> dest -(1+1)) for every
    pre-compaction survivor and 2 for batch-2 survivors."""
    prefix = _MINHASH_PAIRS_SQL[: _MINHASH_PAIRS_SQL.rindex("SELECT DISTINCT")]
    prefix = prefix.rstrip()
    assert prefix.endswith(")")

    def within(b: int) -> str:
        return f"""pw{b} AS (
              SELECT DISTINCT b.doc_id AS id2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
              WHERE a.doc_id % 3 = {b} AND b.doc_id % 3 = {b}
            ), kept{b}a AS (
              SELECT doc_id FROM documents
              WHERE doc_id % 3 = {b}
                AND doc_id NOT IN (SELECT id2 FROM pw{b})
            )"""

    return prefix + f""", {within(0)}, kept0 AS (
              SELECT doc_id FROM kept0a
            ), {within(1)}, px1 AS (
              SELECT DISTINCT a.doc_id AS id1
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
              WHERE a.doc_id IN (SELECT doc_id FROM kept1a)
                AND b.doc_id IN (SELECT doc_id FROM kept0)
            ), kept1 AS (
              SELECT doc_id FROM kept1a
              WHERE doc_id NOT IN (SELECT id1 FROM px1)
            ), {within(2)}, px2 AS (
              SELECT DISTINCT a.doc_id AS id1
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key
              WHERE a.doc_id IN (SELECT doc_id FROM kept2a)
                AND (b.doc_id IN (SELECT doc_id FROM kept0)
                     OR b.doc_id IN (SELECT doc_id FROM kept1))
            ), kept2 AS (
              SELECT doc_id FROM kept2a
              WHERE doc_id NOT IN (SELECT id1 FROM px2)
            )
            SELECT doc_id, CAST(-2 AS INTEGER) AS batch_id FROM kept0
            UNION ALL
            SELECT doc_id, CAST(-2 AS INTEGER) AS batch_id FROM kept1
            UNION ALL
            SELECT doc_id, CAST(2 AS INTEGER) AS batch_id FROM kept2
        """


def _simhash_oracle_sql(bits: int = 32, max_hamming: int = 3) -> str:
    """DuckDB mirror of the simhash pipeline (dedup.py:_simhash_df):
    whitespace tokens → first-8-hex-chars-of-md5 as int → per-bit vote
    sums → sign bits → all-pairs Hamming filter. The Spark side's
    pigeonhole blocking is a complete cover for hamming <= max_hamming,
    so exact all-pairs SQL produces the identical pair set."""
    votes = ",\n                     ".join(
        f"sum(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sh = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
              FROM documents
            ), h AS (
              SELECT doc_id,
                     ('0x' || substring(md5(t), 1, 8))::BIGINT AS h
              FROM toks WHERE t <> ''
            ), votes AS (
              SELECT doc_id, {votes}
              FROM h GROUP BY doc_id
            ), sh AS (
              SELECT doc_id, ({sh})::BIGINT AS sh FROM votes
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   bit_count(xor(a.sh, b.sh)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        """


def _lsh_sig_bits(n_planes: int, dim: int, seed: int) -> str:
    """The seed-deterministic hyperplane matrix (similarity.py:_planes)
    serialized as SQL sign-bit expressions."""
    import numpy as np

    planes = np.random.RandomState(seed).randn(n_planes, dim)
    return ",\n                       ".join(
        "CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(float(x)) for x in row)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for row in planes
    )


def _lsh_pairs_oracle_sql(
    threshold: float = 0.3, n_planes: int = 6, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB mirror of embedding_lsh_dup_pairs (dedup.py): same-bucket
    candidate pairs, exact cosine, threshold filter."""
    bits = _lsh_sig_bits(n_planes, dim, seed)
    return f"""
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     concat({bits}) AS sig
              FROM embeddings
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM c a JOIN c b ON a.sig = b.sig AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
        """


def _lsh_pairs_incr_oracle_sql(
    threshold: float = 0.3, n_planes: int = 6, dim: int = 64, seed: int = 42
) -> str:
    """Incremental variant: cross-side (new % 10 == 0 vs corpus) pairs
    only, no id ordering."""
    bits = _lsh_sig_bits(n_planes, dim, seed)
    return f"""
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     concat({bits}) AS sig
              FROM embeddings
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM c a JOIN c b ON a.sig = b.sig
            WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
              AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
        """


def _lsh_oracle_sql(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """DuckDB mirror of lsh_topk (similarity.py:264): the seed-42 random
    hyperplane matrix is deterministic, so it is serialized into the SQL
    as literals; signature = concatenated sign bits of plane dot
    products, candidates = equi-join on signature, exact cosine re-rank
    within bucket."""
    bits = _lsh_sig_bits(n_planes, dim, seed)
    return f"""
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     concat({bits}) AS sig
              FROM embeddings
            ), q AS (SELECT * FROM c WHERE vec_id < 5)
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                         c.vec_id ASC) AS rank
              FROM q JOIN c ON q.sig = c.sig AND q.vec_id <> c.vec_id
            ) WHERE rank <= 10
        """


def _search_text_oracle_sql(query: str = "+spark merge --vector", limit: int = 50) -> str:
    """DuckDB mirror of the normalized full-text search (operators/search.py,
    functions/normalize.py). The query is compiled driver-side with the
    engine's own compile_query (keyword -> weight map + exclusions), and
    the document-side normalizer — stopword guards, punctuation strip,
    plural table+rules, dot/hyphen composite splitting — is emitted as a
    per-keyword containment predicate in SQL."""
    from littletable_spark.functions.normalize import (
        PLURALS_MAP,
        SIGNIFICANT_SUFFIXES,
        STOPWORDS,
    )
    from littletable_spark.operators.search import compile_query

    weights, excluded, groups = compile_query(query, normalize=True)
    assert not groups, "required groups not supported by this oracle generator"

    sw_lit = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(STOPWORDS)) + "]"
    map_case = (
        "CASE sa "
        + " ".join(
            f"WHEN '{k}' THEN '{v}'" for k, v in sorted(PLURALS_MAP.items())
        )
        + " ELSE NULL END"
    )
    # plural pattern rules in reference order (normalize.py:_PLURAL_SUBS)
    rules = [
        (r"(.*[^aeiouy])ies$", r"\1y"),
        (r"(.*(?:ch|ss|sh|x))es$", r"\1"),
        (r"(.*(?:[bcdfghklmnprstuvwxz]|(qu))e)s$", r"\1"),
        (r"(.*(?:ness|ics))$", r"\1"),
        (r"(.*[^aeious])s$", r"\1"),
    ]
    rule_case = "CASE " + " ".join(
        f"WHEN regexp_matches(sa, '{pat}') THEN regexp_replace(sa, '{pat}', '{rep}')"
        for pat, rep in rules
    ) + " ELSE sa END"
    sing_expr = f"COALESCE({map_case}, {rule_case})"

    def contains(kwd: str) -> str:
        k = "'" + kwd.replace("'", "''") + "'"
        alpha_hits = [f"sa = {k}", f"{sing_expr} = {k}"]
        if kwd in SIGNIFICANT_SUFFIXES:
            alpha_hits.append(f"regexp_matches(sa, '^[a-z]{{2,}}{kwd}$')")
        composite_hits = f"""s = {k}
               OR (contains(s, '.') AND list_contains(
                     list_filter(string_split(s, '.'), p -> length(p) > 1), {k}))
               OR (contains(s, '.')
                   AND len(list_filter(string_split(s, '.'), p -> length(p) > 1)) = 0
                   AND replace(s, '.', '') = {k})
               OR (contains(s, '-') AND list_contains(
                     list_filter(string_split(s, '-'), p -> length(p) > 1), {k}))"""
        return f"""bool_or(
            CASE WHEN is_alpha THEN
              (NOT list_contains(stop.w, sa)) AND ({' OR '.join(alpha_hits)})
            ELSE {composite_hits}
            END)"""

    kwds = sorted(set(weights) | set(excluded))
    contain_cols = ",\n                   ".join(
        f"{contains(k)} AS c_{i}" for i, k in enumerate(kwds)
    )
    col_of = {k: f"c_{i}" for i, k in enumerate(kwds)}
    score_expr = " + ".join(
        f"(CASE WHEN {col_of[k]} THEN {w} ELSE 0 END)" for k, w in sorted(weights.items())
    )
    any_match = " OR ".join(col_of[k] for k in sorted(weights))
    not_excl = " AND ".join(f"NOT {col_of[k]}" for k in sorted(set(excluded))) or "TRUE"
    return f"""
            WITH stop AS (SELECT {sw_lit} AS w),
            tok AS (
              SELECT doc_id, lower(t) AS t
              FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
                    FROM documents)
              WHERE t <> ''
            ), norm AS (
              SELECT doc_id, t,
                     regexp_extract(t, '[^\\w_]?([\\w._-]*)', 1) AS s
              FROM tok, stop
              WHERE NOT list_contains(stop.w, t)
            ), prepped AS (
              SELECT doc_id, t, s,
                     rtrim(s, ',.!?;:''"-') AS sa,
                     regexp_matches(rtrim(s, ',.!?;:''"-'), '^[a-z]+$') AS is_alpha
              FROM norm, stop
              WHERE NOT list_contains(stop.w, s)
            ), contained AS (
              SELECT doc_id,
                   {contain_cols}
              FROM prepped, stop GROUP BY doc_id
            )
            SELECT doc_id, ({score_expr}) AS text_search_score
            FROM contained
            WHERE ({any_match}) AND ({not_excl})
              AND ({score_expr}) >= 0
            ORDER BY text_search_score DESC, doc_id
            LIMIT {limit}
        """


def _decode_oracle_sql(width: int = 4, height: int = 4) -> str:
    """DuckDB mirror of decode_image(use_fake=True) -> media_features
    (multimodal.py): pixel (x,y) is digest byte ``(x*31+y) % 16`` of
    ``md5(blob)`` over 255.0, and blob == encode(text), so each byte is
    reconstructed from the md5 HEX string. psum replays the Spark
    ``F.aggregate`` left fold in the exact same pixel order (x-major),
    so the double sum is bit-identical; pmin/pmax need only the distinct
    byte positions."""
    idxs = [(x * 31 + y) % 16 for x in range(width) for y in range(height)]

    def byte(k: int) -> str:
        return f"(('0x' || substr(h, {2 * k + 1}, 2))::BIGINT / 255.0)"

    psum = " + ".join(byte(k) for k in idxs)
    distinct = sorted(set(idxs))
    pmin = "least(" + ", ".join(byte(k) for k in distinct) + ")"
    pmax = "greatest(" + ", ".join(byte(k) for k in distinct) + ")"
    n = width * height
    return f"""
            WITH px AS (SELECT doc_id, md5(text) AS h FROM documents)
            SELECT doc_id,
                   CAST({n} AS INTEGER) AS n_px,
                   round((0.0 + {psum}) / {n}, 6) AS pmean,
                   {pmin} AS pmin,
                   {pmax} AS pmax
            FROM px
        """


def _pii_oracle_sql() -> str:
    """DuckDB mirror of scrub_pii (textops.py): generated from the SAME
    PII_PATTERNS list, with each category counted against the
    progressively-cleaned text (after earlier patterns' replacements) so
    counts equal actual redactions — an SSN already replaced by <SSN>
    cannot also be counted as a phone."""
    from littletable_spark.operators.textops import PII_PATTERNS

    clean = "text"
    count_cols = []
    for name, pat, repl in PII_PATTERNS:
        count_cols.append(
            f"len(regexp_extract_all({clean}, '{pat}')) AS n_{name}"
        )
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    counts = ",\n                   ".join(count_cols)
    return f"""
            SELECT doc_id,
                   {clean} AS clean_text,
                   {counts}
            FROM documents
        """


def _refround_sql(e: str) -> str:
    """DuckDB mirror of the reference's stats rounding
    (littletable.py:3882-3889): |v| > 1 rounds to max(4-magnitude, 0)
    digits; 0/NULL/|v| <= 1 pass through."""
    return (
        f"CASE WHEN {e} IS NULL OR {e} = 0 THEN {e} "
        f"WHEN abs({e}) > 1 THEN round({e}, "
        f"CAST(greatest(4 - (CAST(floor(log10(abs({e}))) AS INTEGER) + 1), 0) AS INTEGER)) "
        f"ELSE {e} END"
    )


def _stats_oracle_sql() -> str:
    parts = []
    for col in ("l_quantity", "l_discount", "l_extendedprice"):
        parts.append(f"""
              SELECT '{col}' AS name, count({col}) AS count,
                     count(*) - count({col}) AS missing,
                     round({_refround_sql(f"avg({col})")}, 4) AS mean,
                     round({_refround_sql(f"median({col})")}, 4) AS median,
                     round(min({col}), 4) AS min,
                     round(max({col}), 4) AS max,
                     round({_refround_sql(f"var_samp({col})")}, 4) AS variance,
                     round({_refround_sql(f"stddev_samp({col})")}, 4) AS std_dev
              FROM lineitem""")
    return "WITH s AS (" + "\n              UNION ALL".join(parts) + ") SELECT * FROM s"


def oracle_sql() -> dict[str, str]:
    return {
        "where_comparators": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice
            FROM lineitem
            WHERE l_quantity > 30.0
              AND l_discount > 0.01 AND l_discount < 0.08
              AND l_returnflag = 'N'
        """,
        "where_predicates": f"""
            SELECT p_partkey, p_name, p_brand, p_size
            FROM part
            WHERE p_brand IN ({", ".join(f"'{b}'" for b in _PRED_BRANDS)})
              AND p_name LIKE 's%'
              AND p_size BETWEEN 5 AND 45
        """,
        "select_computed": """
            SELECT p_partkey, p_retailprice, p_size,
                   round(p_retailprice * p_size, 2) AS inventory_value
            FROM part
        """,
        "compute_field": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS net_price
            FROM lineitem
            WHERE l_extendedprice * (1 - l_discount) > 50000.0
        """,
        "splitby": """
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_totalprice >= 100000.0
        """,
        "delete": """
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE NOT (o_orderstatus = 'F')
        """,
        "unique": """
            SELECT l_orderkey, l_linenumber FROM (
              SELECT l_orderkey, l_linenumber,
                     row_number() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber) AS rn
              FROM lineitem) WHERE rn = 1
        """,
        "join_3way_agg": """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY c_mktsegment
        """,
        "outer_join_left": """
            SELECT c_custkey,
                   count(o_orderkey) AS n_orders,
                   round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "outer_join_full": """
            SELECT coalesce(n_nationkey, s_nationkey) AS n_nationkey,
                   n_name, s_suppkey, s_name
            FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
        """,
        "join_dsl": """
            SELECT r_name, n_name, c_custkey, c_name
            FROM region
            JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
        """,
        "union": """
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders WHERE o_orderpriority = '2-HIGH'
        """,
        "groupby_summaries": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "groupby_runs": """
            WITH l AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice,
                     CASE WHEN o_orderstatus = lag(o_orderstatus)
                            OVER (ORDER BY o_orderkey)
                          THEN 0 ELSE 1 END AS brk
              FROM orders
            ), r AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice,
                     sum(brk) OVER (ORDER BY o_orderkey) AS run_id
              FROM l
            )
            SELECT min(o_orderkey) AS run_start, o_orderstatus,
                   count(*) AS n_orders,
                   max(o_totalprice) AS max_price
            FROM r GROUP BY run_id, o_orderstatus
        """,
        "pivot_counts": """
            SELECT o_orderpriority, o_orderstatus, count(*) AS count
            FROM orders GROUP BY o_orderpriority, o_orderstatus
        """,
        "pivot_sum": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_l_quantity
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "stats": _stats_oracle_sql(),
        "orderby_head": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
        """,
        "rank": """
            SELECT c_custkey, bal_rank FROM (
              SELECT c_custkey,
                     row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS bal_rank
              FROM customer) WHERE bal_rank <= 50
        """,
        "window_topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "tpch_q3_shape": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """,
        "window_moving_avg": """
            SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
                   round(avg(l_extendedprice) OVER (
                     PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice,
                              l_partkey
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg_price
            FROM lineitem
        """,
        "slice_range": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice >= 50000.0 AND o_totalprice < 150000.0
        """,
        "events_tumbling": """
            SELECT (epoch_ns(ts) // 1000000000)
                     - ((epoch_ns(ts) // 1000000000) % 3600) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "events_dedup_stream": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "events_session": """
            WITH e AS (
              SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
            ), l AS (
              SELECT user_id, ts_sec,
                     CASE WHEN ts_sec - lag(ts_sec) OVER
                            (PARTITION BY user_id ORDER BY ts_sec) > 1800
                          THEN 1 ELSE 0 END AS brk
              FROM e
            ), s AS (
              SELECT user_id, ts_sec,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts_sec) AS session_id
              FROM l
            )
            SELECT user_id,
                   min(ts_sec) AS session_start, max(ts_sec) AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "events_sliding": """
            WITH e AS (
              SELECT epoch_ns(ts) // 1000000000 AS t, value FROM events
            ), w AS (
              SELECT t - (t % 3600) - 3600 + g.i * 3600 AS window_start, value
              FROM e, LATERAL (SELECT unnest([0, 1]) AS i) g
            )
            SELECT window_start, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM w WHERE window_start >= 0 GROUP BY window_start
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
            FROM documents GROUP BY text
        """,
        "dedup_fingerprint": """
            WITH f AS (
              SELECT doc_id,
                     md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
              FROM documents
            )
            SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS n_copies
            FROM f GROUP BY fingerprint
        """,
        "dedup_minhash": _MINHASH_PAIRS_SQL,
        "stream_ingest_dedup": _ingest_oracle_sql(),
        "stream_ingest_compact": _ingest_compact_oracle_sql(),
        # incremental shape: identical banding, cross-side pairs only
        "dedup_minhash_incr": _MINHASH_PAIRS_SQL.replace(
            "ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id",
            "ON a.band = b.band AND a.band_key = b.band_key\n"
            "            WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0",
        ),
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS (
              {_MINHASH_PAIRS_SQL}
            ), edges AS (
              SELECT id1 AS a, id2 AS b FROM pairs
              UNION
              SELECT id2 AS a, id1 AS b FROM pairs
            ), reach(src, node) AS (
              SELECT a, a FROM (SELECT DISTINCT a FROM edges)
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
            )
            SELECT src AS doc_id, min(node) AS cluster_id
            FROM reach GROUP BY src ORDER BY doc_id
        """,
        "dedup_jaccard": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i) g
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id1, id2,
                   round(n * 1.0 / (sa.sz + sb.sz - n), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON id1 = sa.doc_id
            JOIN sizes sb ON id2 = sb.doc_id
            WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.5
        """,
        "text_bm25": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS nd, avg(len(t)) AS avgdl FROM toks
            ), tok AS (
              SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS w FROM toks
            ), ftok AS (
              SELECT * FROM tok WHERE w IN ('merge', 'spark', 'table')
            ), tf AS (
              SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
              FROM ftok GROUP BY doc_id, w
            ), df AS (
              SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w
            ), scored AS (
              SELECT tf.doc_id,
                     round(sum(
                       ln(1 + ((SELECT nd FROM stats) - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.5
                       / (tf.tf + 1.5 * (0.25 + 0.75 * tf.dl
                                         / (SELECT avgdl FROM stats)))
                     ), 6) AS score
              FROM tf JOIN df USING (w) GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
                     AS rank
            FROM scored ORDER BY score DESC, doc_id ASC LIMIT 8
        """,
        "text_tfidf_incr": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), tok AS (
              SELECT doc_id, unnest(t) AS term FROM toks
            ), corpus_dt AS (
              SELECT DISTINCT doc_id, term FROM tok
            ), docfreq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM corpus_dt GROUP BY term
            ), d AS (
              SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents
            ), tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE doc_id % 9 = 0 GROUP BY doc_id, term
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
                     tf.tf * ln((SELECT nd FROM d) / greatest(docfreq.df, 1))
                       AS tfidf
              FROM tf JOIN docfreq USING (term)
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term ASC) AS term_rank
              FROM scored
            )
            SELECT doc_id, term, tf, df, tfidf, CAST(term_rank AS INT) AS term_rank
            FROM ranked WHERE term_rank <= 3
        """,
        "text_bm25_incr": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS nd, avg(len(t)) AS avgdl FROM toks
            ), corpus_dt AS (
              SELECT DISTINCT doc_id, w
              FROM (SELECT doc_id, unnest(t) AS w FROM toks)
              WHERE w IN ('merge', 'spark', 'table')
            ), df AS (
              SELECT w, CAST(count(*) AS DOUBLE) AS df FROM corpus_dt GROUP BY w
            ), btok AS (
              SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS w
              FROM toks WHERE doc_id % 9 = 0
            ), ftok AS (
              SELECT * FROM btok WHERE w IN ('merge', 'spark', 'table')
            ), tf AS (
              SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
              FROM ftok GROUP BY doc_id, w
            ), scored AS (
              SELECT tf.doc_id,
                     round(sum(
                       ln(1 + ((SELECT nd FROM stats) - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * 2.5
                       / (tf.tf + 1.5 * (0.25 + 0.75 * tf.dl
                                         / (SELECT avgdl FROM stats)))
                     ), 6) AS score
              FROM tf JOIN df USING (w) GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
                     AS rank
            FROM scored ORDER BY score DESC, doc_id ASC LIMIT 8
        """,
        # stupid backoff: bigram hits score c2/c1 (unigram context
        # count), everything else alpha*c(w2)/N; cap total order
        # (c2 desc, w1, w2) matches the operator's TakeOrdered
        "text_bigram_logprob": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), uni AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
            ), tot AS (
              SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni
            ), pairs AS (
              SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
              FROM toks,
                   LATERAL (SELECT unnest(range(2, len(t) + 1)) AS i) g
              WHERE len(t) >= 2
            ), big0 AS (
              SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
            ), big AS (
              SELECT w1, w2, c2 FROM big0
              ORDER BY c2 DESC, w1 ASC, w2 ASC LIMIT 30
            )
            SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   avg(ln(
                     CASE WHEN b.c2 IS NOT NULL
                          THEN CAST(b.c2 AS DOUBLE) / CAST(u1.c AS DOUBLE)
                          ELSE 0.4 * CAST(coalesce(u2.c, 0.5) AS DOUBLE)
                               / (SELECT n FROM tot) END
                   )) AS logprob_per_bigram
            FROM pairs p
            LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
            LEFT JOIN uni u1 ON p.w1 = u1.w
            LEFT JOIN uni u2 ON p.w2 = u2.w
            GROUP BY p.doc_id
        """,
        "text_logprob": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), tok AS (
              SELECT doc_id, unnest(t) AS w FROM toks
            ), freq0 AS (
              SELECT w, count(*) AS c FROM tok GROUP BY w
            ), tot AS (
              SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq0
            ), freq AS (
              SELECT w, c FROM freq0 ORDER BY c DESC, w ASC LIMIT 20
            )
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   avg(ln(coalesce(f.c, 0.5) / (SELECT n FROM tot)))
                     AS logprob_per_token
            FROM tok t LEFT JOIN freq f USING (w)
            GROUP BY t.doc_id
        """,
        "text_tfidf": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), tok AS (
              SELECT doc_id, unnest(t) AS term FROM toks
            ), tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term
            ), docfreq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), d AS (
              SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
                     tf.tf * ln((SELECT nd FROM d) / docfreq.df) AS tfidf
              FROM tf JOIN docfreq USING (term)
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term ASC) AS term_rank
              FROM scored
            )
            SELECT doc_id, term, tf, df, tfidf, CAST(term_rank AS INT) AS term_rank
            FROM ranked WHERE term_rank <= 3
        """,
        "dedup_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), pos AS (
              SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS p
              FROM toks WHERE len(t) >= 5
            ), g AS (
              SELECT doc_id, p, array_to_string(t[p : p + 4], ' ') AS gram FROM pos
            ), dup AS (
              SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
            ), m AS (
              SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)
            ), isl AS (
              SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 5
                          THEN 1 ELSE 0 END AS brk
              FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)
            ), grp AS (
              SELECT doc_id, p,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            )
            SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
                   CAST(MAX(p) + 4 AS BIGINT) AS span_end,
                   CAST(MAX(p) + 5 - MIN(p) AS BIGINT) AS span_tokens
            FROM grp GROUP BY doc_id, island
        """,
        "dedup_spans_incr": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), pos AS (
              SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS p
              FROM toks WHERE len(t) >= 5
            ), g AS (
              SELECT doc_id, p, array_to_string(t[p : p + 4], ' ') AS gram FROM pos
            ), dup AS (
              SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 0
            ), m AS (
              SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)
              WHERE g.doc_id % 10 = 0
            ), isl AS (
              SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 5
                          THEN 1 ELSE 0 END AS brk
              FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)
            ), grp AS (
              SELECT doc_id, p,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            )
            SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
                   CAST(MAX(p) + 4 AS BIGINT) AS span_end,
                   CAST(MAX(p) + 5 - MIN(p) AS BIGINT) AS span_tokens
            FROM grp GROUP BY doc_id, island
        """,
        "dedup_spans_remove": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), pos AS (
              SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS p
              FROM toks WHERE len(t) >= 5
            ), g AS (
              SELECT doc_id, p, array_to_string(t[p : p + 4], ' ') AS gram FROM pos
            ), dup AS (
              SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
            ), m AS (
              SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)
            ), covered AS (
              SELECT DISTINCT doc_id, unnest(generate_series(p, p + 4)) AS cp FROM m
            ), tp AS (
              SELECT doc_id, unnest(t) AS tok,
                     unnest(generate_series(1, len(t))) AS tp
              FROM toks
            ), kept AS (
              SELECT tp.doc_id, tp.tok, tp.tp
              FROM tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.tp = c.cp
              WHERE c.cp IS NULL
            )
            SELECT d.doc_id, md5(coalesce(kk.text, '')) AS text_hash
            FROM documents d
            LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
                       FROM kept GROUP BY doc_id) kk
            USING (doc_id)
        """,
        "dedup_lines": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), lined AS (
              SELECT doc_id,
                     array_to_string(
                       list_transform(
                         range(0, greatest(0, CAST(floor((len(t)-1)/10.0) AS BIGINT)) + 1),
                         i -> array_to_string(t[i*10+1 : i*10+10], ' ')),
                       chr(10)) AS text
              FROM toks
            ), ls AS (
              SELECT doc_id, string_split(text, chr(10)) AS la FROM lined
            ), lines AS (
              SELECT doc_id, unnest(la) AS line,
                     unnest(generate_series(1, len(la))) AS pos
              FROM ls
            ), bad AS (
              SELECT line FROM lines GROUP BY line HAVING min(doc_id) <> max(doc_id)
            ), kept AS (
              SELECT l.* FROM lines l ANTI JOIN bad b USING (line)
            )
            SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_lines_kept
            FROM kept GROUP BY doc_id
        """,
        "dedup_simhash": _simhash_oracle_sql(),
        "sim_lsh_topk": _lsh_oracle_sql(),
        "dedup_embedding_lsh": _lsh_pairs_oracle_sql(),
        "dedup_embedding_lsh_incr": _lsh_pairs_incr_oracle_sql(),
        "dedup_embedding": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(
                     a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        """,
        "explode_embedding": """
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   unnest(embedding) AS component
            FROM embeddings WHERE vec_id < 50
        """,
        "sim_cosine_topk": """
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.vec_id ASC) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5
            ) WHERE rank <= 10
        """,
        # float32-stored embeddings: DuckDB replays the identical IEEE
        # truncation (::REAL[]) then scores in double like the engine
        "sim_f32_topk": """
            WITH e AS (
              SELECT vec_id,
                     embedding::DOUBLE[]::REAL[]::DOUBLE[] AS emb
              FROM embeddings
            )
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(q.emb, c.emb), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6)
                         DESC, c.vec_id ASC) AS rank
              FROM e q JOIN e c ON q.vec_id <> c.vec_id
              WHERE q.vec_id >= 10 AND q.vec_id < 15
            ) WHERE rank <= 8
        """,
        # with nprobe == nlist every list is probed and rerank covers
        # the whole corpus, so the PQ search equals exact brute force —
        # same SQL shape as sim_cosine_topk over the 20..24 query set
        "sim_ivf_pq": """
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.vec_id ASC) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id >= 20 AND q.vec_id < 25
            ) WHERE rank <= 10
        """,
        # centroids = embeddings of vec_id 0..7 (cluster index = vec_id
        # because init_ids=[0..7]); cosine is norm-invariant so the raw
        # embedding stands in for the unit-normalized centroid. Rank on
        # the ROUNDED score with cluster-index tie-break — the same
        # total order the Spark argmax uses.
        "sim_cluster": """
            WITH cents AS (
              SELECT vec_id AS cl, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 8
            ), scored AS (
              SELECT e.vec_id, c.cl,
                     round(list_cosine_similarity(
                       e.embedding::DOUBLE[], c.cvec), 6) AS cos,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                         e.embedding::DOUBLE[], c.cvec), 6) DESC, c.cl ASC
                     ) AS rk
              FROM embeddings e CROSS JOIN cents c
            )
            SELECT vec_id, cl::INT AS cluster, cos AS cosine
            FROM scored WHERE rk = 1
        """,
        "dedup_semantic": """
            WITH cents AS (
              SELECT vec_id AS cl, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 8
            ), assign AS (
              SELECT vec_id, cl AS cluster, emb FROM (
                SELECT e.vec_id, c.cl, e.embedding::DOUBLE[] AS emb,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.cvec), 6) DESC, c.cl ASC
                       ) AS rk
                FROM embeddings e CROSS JOIN cents c
              ) WHERE rk = 1
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2, a.cluster::INT AS cluster,
                   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
            FROM assign a JOIN assign b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.3
        """,
        "update_where": """
            SELECT o_orderkey, o_orderstatus, o_orderpriority,
                   CASE WHEN o_orderstatus = 'F'
                         AND o_orderpriority = '1-URGENT'
                        THEN 1 END AS flag
            FROM orders
        """,
        "upsert_merge": """
            SELECT c_custkey, c_name,
                   CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                        ELSE c_acctbal END AS c_acctbal,
                   CASE WHEN c_custkey % 7 = 0 THEN 'refreshed' END AS c_note
            FROM customer
            UNION ALL
            SELECT c_custkey + 1000000, NULL, 0.0, 'added'
            FROM customer WHERE c_custkey % 11 = 0
        """,
        # incremental SemDeDup: frozen corpus-side model (centroids =
        # embeddings of vec_id 1..8, cluster index = vec_id - 1), both
        # sides assigned against it, cross-side candidates only.
        "dedup_semantic_incr": """
            WITH cents AS (
              SELECT (vec_id - 1)::INT AS cl, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id BETWEEN 1 AND 8
            ), assign AS (
              SELECT vec_id, cluster, emb, side FROM (
                SELECT e.vec_id, c.cl AS cluster, e.embedding::DOUBLE[] AS emb,
                       CASE WHEN e.vec_id % 10 = 0 THEN 'new' ELSE 'corpus'
                       END AS side,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(
                           e.embedding::DOUBLE[], c.cvec), 6) DESC, c.cl ASC
                       ) AS rk
                FROM embeddings e CROSS JOIN cents c
              ) WHERE rk = 1
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2, a.cluster,
                   round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
            FROM assign a JOIN assign b ON a.cluster = b.cluster
            WHERE a.side = 'new' AND b.side = 'corpus'
              AND round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.3
        """,
        "sim_ivf_incr": """
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.vec_id ASC) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id >= 5 AND q.vec_id < 10
            ) WHERE rank <= 10
        """,
        "sim_ivf_topk": """
            SELECT * FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                     round(list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                         q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                         c.vec_id ASC) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 5
            ) WHERE rank <= 10
        """,
        # round 14: CJK-aware tokens — the query synthesizes a Han/kana
        # suffix on every 5th doc; the oracle replays the exact
        # expressions (space-pad each CJK char then whitespace-split;
        # BPE proxy over CJK-collapsed text + ceil(cjk/2))
        "text_tokens": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                       text || ' ' || repeat('中文好 テスト', CAST(doc_id % 3 + 1 AS INTEGER))
                     ELSE text END AS text
              FROM documents
            ), t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(
                       regexp_replace(text, '([一-鿿぀-ヿ])', ' \\1 ', 'g')
                     ), '\\s+'), x -> x <> '') AS toks,
                     length(text) - length(
                       regexp_replace(text, '[一-鿿぀-ヿ]', '', 'g')
                     ) AS cjk
              FROM s
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct_tokens,
                   len(regexp_extract_all(
                     trim(regexp_replace(text, '\\s*[一-鿿぀-ヿ]+\\s*', ' ', 'g')),
                     '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+'
                   )) + CAST(floor((cjk + 1) / 2) AS INTEGER) AS n_bpe_tokens,
                   CAST(cjk AS INTEGER) AS n_cjk_chars,
                   len(list_distinct(toks)) * 1.0 / len(toks) AS ttr
            FROM t
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(
                       regexp_replace(text, '([一-鿿぀-ヿ])', ' \\1 ', 'g')
                     ), '\\s+'), x -> x <> '') AS toks
              FROM documents
            ), f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(toks) AS n_tokens,
                     list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mtl,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                       / length(text) AS pr,
                     len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       lower(x)))) * 1.0 / len(toks) AS sr
              FROM t
            )
            SELECT doc_id, n_chars, n_tokens,
                   mtl AS mean_token_len,
                   pr AS punct_ratio,
                   sr AS stopword_ratio,
                   0.25 * least(n_tokens / 100.0, 1.0)
                     + 0.25 * least(mtl / 8.0, 1.0)
                     + 0.25 * (1.0 - least(pr * 10, 1.0))
                     + 0.25 * least(sr * 5, 1.0) AS quality
            FROM f
        """,
        "text_quality_clf": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
              FROM documents
            ), f AS (
              SELECT doc_id,
                     len(toks) AS n_tokens,
                     list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mtl,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                       / length(text) AS pr,
                     len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       lower(x)))) * 1.0 / len(toks) AS sr
              FROM t
            ), s AS (
              -- fixed-order multiply-add: sorted(weights) order, same
              -- association as score_linear's Column chain
              SELECT doc_id,
                     -2.5 + 0.4 * mtl + 0.02 * n_tokens
                          + -12.0 * pr + 3.0 * sr AS logit
              FROM f
            )
            SELECT doc_id, logit, CAST(logit > 0.0 AS INT) AS keep
            FROM s
        """,
        "text_langid": _langid_oracle_sql(),
        "text_fingerprint": """
            WITH t AS (
              SELECT doc_id, text,
                     list_transform(list_filter(
                       string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                       x -> lower(x)) AS toks
              FROM documents
            ), wh AS (
              SELECT doc_id,
                     md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
                     md5(array_to_string(toks[i:i+3], ' ')) AS w
              FROM t,
                   LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i) g
            )
            SELECT doc_id, fingerprint, min(w) AS min_window_hash
            FROM wh GROUP BY doc_id, fingerprint
        """,
        "search_text": _search_text_oracle_sql(),
        "search_raw": """
            WITH t AS (
              SELECT doc_id,
                     list_distinct(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS toks
              FROM documents
            ), scored AS (
              SELECT doc_id,
                     (CASE WHEN list_contains(toks, 'merge') THEN 1000 ELSE 0 END
                      + CASE WHEN list_contains(toks, 'spark') THEN 100 ELSE 0 END)
                       AS text_search_score
              FROM t
              WHERE (list_contains(toks, 'merge') OR list_contains(toks, 'spark'))
                AND NOT list_contains(toks, 'vector')
            )
            SELECT doc_id, text_search_score FROM scored
            ORDER BY text_search_score DESC, doc_id LIMIT 50
        """,
        "slice_positional": """
            SELECT o_orderkey, o_totalprice FROM (
              SELECT o_orderkey, o_totalprice,
                     row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn > 100 AND rn <= 150
        """,
        "head_tail": """
            (SELECT o_orderkey, o_totalprice FROM orders
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
            UNION ALL
            (SELECT o_orderkey, o_totalprice FROM orders
             ORDER BY o_totalprice ASC, o_orderkey DESC LIMIT 5)
        """,
        "cube": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "events_rollup": """
            WITH sec AS (
              SELECT event_type, value,
                     epoch_ns(ts) // 1000000000 AS t
              FROM events
            ), tiers AS (
              SELECT * FROM sec CROSS JOIN (VALUES (3600), (86400)) r(resolution)
            )
            SELECT resolution, t - (t % resolution) AS bucket_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM tiers
            GROUP BY 1, 2, 3
        """,
        "range_join": """
            WITH bands(band, lo, hi) AS (VALUES
              """ + ",\n              ".join(
                f"('b{i}', {50_000.0 * i}, {50_000.0 * (i + 1)})"
                for i in range(8)
            ) + """
            )
            SELECT o_orderkey, o_totalprice, band
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice < hi
        """,
        "text_chunks": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(
                       regexp_replace(text, '([一-鿿぀-ヿ])', ' \\1 ', 'g')
                     ), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), nz AS (
              SELECT * FROM toks WHERE len(t) > 0
            ), starts AS (
              -- starts run only while s <= max(len - overlap, 1): a start
              -- inside the prior chunk's overlap would be fully contained
              SELECT doc_id, t,
                     unnest(generate_series(1, greatest(len(t) - 4, 1), 12)) AS s
              FROM nz
            )
            SELECT doc_id,
                   ((s - 1) // 12)::INT AS chunk_id,
                   array_to_string(t[s : s + 15], ' ') AS chunk_text,
                   len(t[s : s + 15]) AS n_chunk_tokens
            FROM starts
        """,
        "text_pii_scrub": _pii_oracle_sql(),
        "multimodal_decode": _decode_oracle_sql(width=4, height=4),
        # office extraction: the fixtures are pure functions of
        # (doc_id, lang), so the oracle predicts the extracted text
        # (chr(10)=paragraph/row join, chr(9)=tab, chr(12)=slide/
        # chapter separator, two spaces=text:s c=2), the titles
        # (docProps/core.xml, meta.xml, OPF dc:title), the charset-
        # ladder encodings (latin-1 'café' detects as cp1252, the BOM
        # row as utf-16-le), and the non-document-zip on_error NULLs
        # arithmetically
        "office_extract": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 14 = 0 THEN
                       'Doc ' || doc_id::VARCHAR || chr(10) || lang
                       || chr(9) || 'x'
                     WHEN doc_id % 14 = 1 THEN
                       'Doc ' || doc_id::VARCHAR || chr(10) || lang || '  x'
                     WHEN doc_id % 14 = 2 THEN
                       'Doc ' || doc_id::VARCHAR || chr(9)
                       || (doc_id % 9)::VARCHAR || chr(10) || lang
                     WHEN doc_id % 14 = 3 THEN
                       'Doc ' || doc_id::VARCHAR || chr(12) || lang
                       || chr(9) || 'x'
                     WHEN doc_id % 14 = 4 THEN
                       'Doc ' || doc_id::VARCHAR || chr(10) || lang
                       || chr(9) || 'caf' || chr(233)
                     WHEN doc_id % 14 = 5 THEN
                       'Doc ' || doc_id::VARCHAR || chr(12) || lang
                       || ' chapter'
                     WHEN doc_id % 14 = 7 THEN
                       'Doc ' || doc_id::VARCHAR || ' caf' || chr(233)
                       || ' ' || lang
                     WHEN doc_id % 14 = 8 THEN
                       'Doc ' || doc_id::VARCHAR || ' ' || chr(1046) || lang
                     WHEN doc_id % 14 = 9 THEN
                       'Doc ' || doc_id::VARCHAR || chr(12) || lang
                       || ' deck'
                     WHEN doc_id % 14 = 10 THEN
                       'Doc ' || doc_id::VARCHAR || ' line one'
                       || chr(10) || lang || ' dialog'
                     WHEN doc_id % 14 = 11 THEN
                       'Doc ' || doc_id::VARCHAR || ' opening'
                       || chr(10) || lang || ' closing'
                     WHEN doc_id % 14 = 12 THEN
                       'Doc ' || doc_id::VARCHAR || ' zipped caf'
                       || chr(233) || ' ' || lang
                     WHEN doc_id % 14 = 13 THEN
                       'Doc ' || doc_id::VARCHAR || ' xz ' || lang
                     ELSE NULL END AS text
              FROM documents
            )
            SELECT t.doc_id,
                   CASE WHEN t.doc_id % 14 = 0 THEN 'docx'
                        WHEN t.doc_id % 14 = 1 THEN 'odt'
                        WHEN t.doc_id % 14 = 2 THEN 'xlsx'
                        WHEN t.doc_id % 14 = 3 THEN 'pptx'
                        WHEN t.doc_id % 14 = 4 THEN 'rtf'
                        WHEN t.doc_id % 14 = 5 THEN 'epub'
                        WHEN t.doc_id % 14 = 7 THEN 'text'
                        WHEN t.doc_id % 14 = 8 THEN 'text'
                        WHEN t.doc_id % 14 = 9 THEN 'ppt'
                        WHEN t.doc_id % 14 = 10 THEN 'srt'
                        WHEN t.doc_id % 14 = 11 THEN 'vtt'
                        WHEN t.doc_id % 14 = 12 THEN 'text'
                        WHEN t.doc_id % 14 = 13 THEN 'text'
                        ELSE NULL END AS doc_format,
                   CASE WHEN t.doc_id % 14 = 0 THEN 'T' || t.doc_id::VARCHAR
                        WHEN t.doc_id % 14 = 1 THEN 'O' || t.doc_id::VARCHAR
                        WHEN t.doc_id % 14 = 5 THEN 'E' || t.doc_id::VARCHAR
                        WHEN t.doc_id % 14 = 6 THEN NULL
                        ELSE '' END AS title,
                   text,
                   length(text)::INTEGER AS n_chars,
                   CASE WHEN t.doc_id % 14 = 7 THEN 'cp1252'
                        WHEN t.doc_id % 14 = 8 THEN 'utf-16-le'
                        WHEN t.doc_id % 14 = 10 THEN 'utf-8'
                        WHEN t.doc_id % 14 = 11 THEN 'utf-8'
                        WHEN t.doc_id % 14 = 12 THEN 'cp1252'
                        WHEN t.doc_id % 14 = 13 THEN 'utf-8'
                        ELSE NULL END AS encoding
            FROM t
        """,
        # media containers: every fixture field is a pure function of
        # doc_id (see q_media_info), so format routing, durations
        # (exact IEEE quotients of identical rationals — mvhd
        # duration/timescale, Ogg granule/rate, Opus granule minus
        # pre-skip over 48000, WAV data bytes over byte rate, FLAC
        # total-samples/rate), dims, codecs, and the VorbisComment /
        # ilst tags are all predicted arithmetically
        "media_info": """
            SELECT doc_id,
                   CASE doc_id % 8 WHEN 0 THEN 'mp4' WHEN 1 THEN 'm4a'
                        WHEN 2 THEN 'ogg-vorbis' WHEN 3 THEN 'ogg-opus'
                        WHEN 4 THEN 'wav' WHEN 5 THEN 'flac'
                        WHEN 6 THEN 'webm'
                        ELSE NULL END AS media_format,
                   CASE doc_id % 8
                        WHEN 0 THEN ((doc_id % 37 + 1) * 500) / 1000.0
                        WHEN 1 THEN ((doc_id % 50 + 1) * 44100) / 44100.0
                        WHEN 2 THEN (doc_id % 23 + 1)::DOUBLE
                        WHEN 3 THEN (doc_id % 11 + 1)::DOUBLE
                        WHEN 4 THEN ((doc_id % 9 + 1) * 800) / 8000.0
                        WHEN 5 THEN (doc_id % 13 + 1)::DOUBLE
                        WHEN 6 THEN ((doc_id % 19 + 1) * 1000.0 * 1000000)
                                    / 1000000000.0
                        ELSE NULL END AS duration_s,
                   CASE WHEN doc_id % 8 = 0
                        THEN (16 * (doc_id % 20 + 4))::INTEGER
                        WHEN doc_id % 8 = 6
                        THEN (8 * (doc_id % 30 + 10))::INTEGER
                        ELSE NULL END AS width,
                   CASE WHEN doc_id % 8 = 0
                        THEN (16 * (doc_id % 15 + 3))::INTEGER
                        WHEN doc_id % 8 = 6
                        THEN (8 * (doc_id % 22 + 8))::INTEGER
                        ELSE NULL END AS height,
                   CASE doc_id % 8 WHEN 0 THEN 'avc1'
                        WHEN 6 THEN 'V_VP9'
                        ELSE NULL END AS codec,
                   CASE doc_id % 8 WHEN 0 THEN 'mp4a' WHEN 1 THEN 'mp4a'
                        WHEN 2 THEN 'vorbis' WHEN 3 THEN 'opus'
                        WHEN 4 THEN 'pcm' WHEN 5 THEN 'flac'
                        WHEN 6 THEN 'A_OPUS'
                        ELSE NULL END AS audio_codec,
                   CASE doc_id % 8 WHEN 0 THEN 2 WHEN 3 THEN 2
                        WHEN 5 THEN 2
                        WHEN 1 THEN (1 + doc_id % 2)
                        WHEN 2 THEN (1 + doc_id % 2)
                        WHEN 4 THEN (1 + doc_id % 2)
                        WHEN 6 THEN (1 + doc_id % 2)
                        ELSE NULL END::INTEGER AS channels,
                   CASE doc_id % 8 WHEN 0 THEN 44100 WHEN 1 THEN 44100
                        WHEN 2 THEN 8000 + (doc_id % 5) * 8000
                        WHEN 3 THEN 48000 WHEN 4 THEN 8000
                        WHEN 5 THEN 16000 WHEN 6 THEN 48000
                        ELSE NULL END::INTEGER AS sample_rate,
                   CASE doc_id % 8 WHEN 0 THEN 2 WHEN 6 THEN 2
                        WHEN 7 THEN NULL
                        ELSE 1 END::INTEGER AS n_tracks,
                   CASE doc_id % 8
                        WHEN 0 THEN 'M' || doc_id::VARCHAR
                        WHEN 2 THEN 'V' || doc_id::VARCHAR
                        WHEN 6 THEN 'W' || doc_id::VARCHAR
                        ELSE NULL END AS title,
                   CASE WHEN doc_id % 8 = 1 THEN 'A' || doc_id::VARCHAR
                        ELSE NULL END AS artist,
                   CASE WHEN doc_id % 8 = 3 THEN 'P' || doc_id::VARCHAR
                        ELSE NULL END AS album,
                   CASE WHEN doc_id % 8 = 2
                        THEN '200' || (doc_id % 10)::VARCHAR
                        ELSE NULL END AS year,
                   CASE WHEN doc_id % 8 = 5 THEN 'g' || doc_id::VARCHAR
                        ELSE NULL END AS genre
            FROM documents
        """,
        # archive member fan-out replayed as a UNION ALL: every doc
        # yields a.txt + b.srt rows, every doc_id%5==0 adds the
        # binary member's per-member on_error NULL row
        "archive_extract": """
            SELECT d.doc_id, m.member,
                   CASE m.member WHEN 'a.txt' THEN 'text'
                        WHEN 'b.srt' THEN 'srt' ELSE NULL
                        END AS doc_format,
                   CASE WHEN m.member = 'c.bin' THEN NULL ELSE ''
                        END AS title,
                   CASE m.member
                        WHEN 'a.txt' THEN 'Doc ' || d.doc_id::VARCHAR
                             || ' member alpha'
                        WHEN 'b.srt' THEN d.lang || ' beta'
                        ELSE NULL END AS text,
                   CASE m.member
                        WHEN 'a.txt'
                        THEN (17 + length(d.doc_id::VARCHAR))::INTEGER
                        WHEN 'b.srt' THEN (length(d.lang) + 5)::INTEGER
                        ELSE NULL END AS n_chars,
                   CASE WHEN m.member = 'c.bin' THEN NULL
                        ELSE 'utf-8' END AS encoding
            FROM documents d
            CROSS JOIN (VALUES ('a.txt'), ('b.srt'), ('c.bin'))
                 AS m(member)
            WHERE m.member <> 'c.bin' OR d.doc_id % 5 = 0
            ORDER BY d.doc_id, m.member
        """,
        # the fake image hash is the first 15 md5 hex chars of the blob
        # (60-bit positive BIGINT in both engines); the n^2 oracle join
        # is fine at gate scale, the ENGINE uses pigeonhole blocking
        "multimodal_audio_dedup": """
            WITH h AS (
              SELECT doc_id,
                     ('0x' || substr(md5('aud:' || lower(hex(encode(
                        'aud-' || (doc_id % 45)::VARCHAR)))), 1, 15))::BIGINT AS sh
              FROM documents
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        "multimodal_image_dedup": """
            WITH h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(lower(hex(encode(
                        'img-' || (doc_id % 60)::VARCHAR)))), 1, 15))::BIGINT AS sh
              FROM documents
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        # fake audio features are md5 digest bytes (multimodal.py
        # decode_audio use_fake=True): n_frames=b0, duration=b1/255,
        # rms=b2/255, peak=b3/255, zcr=b4/255 — bytes reconstructed
        # from the hex string like the image fake
        "multimodal_audio": """
            WITH h AS (SELECT doc_id, md5(text) AS x FROM documents)
            SELECT doc_id,
                   ('0x' || substr(x, 1, 2))::BIGINT AS n_frames,
                   round(('0x' || substr(x, 3, 2))::BIGINT / 255.0, 6) AS duration,
                   round(('0x' || substr(x, 5, 2))::BIGINT / 255.0, 6) AS rms,
                   round(('0x' || substr(x, 7, 2))::BIGINT / 255.0, 6) AS peak,
                   round(('0x' || substr(x, 9, 2))::BIGINT / 255.0, 6) AS zcr
            FROM h
        """,
        "text_pack": f"""
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(trim(
                       regexp_replace(coalesce(text, ''), '([一-鿿぀-ヿ])', ' \\1 ', 'g')
                     ), '\\s+'), x -> x <> ''))::INTEGER AS n_tokens,
                     CAST(({_hash_bucket_sql('doc_id', 'pack')}) % 8 AS INTEGER) AS shard
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens, shard,
                     CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                          AS BIGINT) AS e
              FROM t
            )
            SELECT doc_id, n_tokens, shard,
                   CAST((e - n_tokens) // 256 AS BIGINT) AS pack,
                   CAST((e - n_tokens) % 256 AS BIGINT) AS pack_offset
            FROM c
        """,
        # same regexes as urlops.py — Java regex and RE2 agree on all
        # of them (no lookbehind, no backrefs); the public-suffix IN
        # list is composed from the SAME tuple the operator uses
        # (COMMON_TWO_LEVEL_SUFFIXES) so the two engines cannot drift
        "url_features": """
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN
                       'http://10.0.0.' || (doc_id % 200)::VARCHAR
                       || '/mirror/' || doc_id::VARCHAR
                     WHEN doc_id % 11 = 5 THEN
                       'http://u@[2001:db8::' || (doc_id % 9)::VARCHAR
                       || ']:8080/v6/' || doc_id::VARCHAR
                     ELSE
                       'https://u:p@' || source || '.example-' || lang
                       || CASE WHEN doc_id % 7 = 0 THEN '.co.uk:8443/docs/'
                               ELSE '.com:8443/docs/' END
                       || lang || '/' || doc_id::VARCHAR
                       || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2&c=3' ELSE '' END
                     END AS url
              FROM documents
            ), f AS (
              SELECT doc_id, url,
                     __HOST_EXPR__ AS host,
                     regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
                     regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\\?(.*)$', 1) AS query
              FROM u
            ), g AS (
              SELECT *,
                     regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS sfx2,
                     regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) AS sfx3,
                     (regexp_matches(host, '^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$')
                      OR contains(host, ':')) AS ipish
              FROM f
            )
            SELECT doc_id, host,
                   CASE WHEN ipish THEN host
                        WHEN sfx2 IN (__PSL_IN_LIST__) AND sfx3 <> ''
                        THEN sfx3
                        ELSE sfx2 END AS domain,
                   CASE WHEN ipish THEN ''
                        ELSE regexp_extract(host, '\\.([A-Za-z0-9-]+)$', 1) END AS tld,
                   len(list_filter(string_split(path, '/'), x -> x <> ''))::INTEGER AS path_depth,
                   CASE WHEN query = '' THEN 0
                        ELSE len(string_split(query, '&')) END::INTEGER AS n_params,
                   CASE WHEN ipish THEN 1 ELSE 0 END AS is_ip
            FROM g
        """.replace("__PSL_IN_LIST__", _psl_in_list())
        .replace("__HOST_EXPR__", _host_sql("url")),
        # canonicalization: same regexes, same byte-order param sort;
        # the tracking-param regex is the operator's own constant so
        # the engines cannot drift
        "url_canon": """
            WITH u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN 'no scheme here'
                     ELSE
                       CASE WHEN doc_id % 11 = 7 AND doc_id % 2 = 0 THEN
                         'HTTPS://U:P@[2001:DB8::1]:443/V6/'
                         || (doc_id - doc_id % 2)::VARCHAR
                         || '?utm_source=x&b=2&a=1'
                       WHEN doc_id % 11 = 7 THEN
                         'https://[2001:db8::1]/V6/'
                         || (doc_id - doc_id % 2)::VARCHAR
                         || '?a=1&b=2&gclid=' || doc_id::VARCHAR
                       WHEN doc_id % 2 = 0 THEN
                         'HTTPS://CDN.Example-' || lang || '.COM:443/Item/'
                         || (doc_id - doc_id % 2)::VARCHAR
                         || '?utm_source=x&b=2&a=1'
                       ELSE
                         'https://u:p@cdn.example-' || lang || '.com/Item/'
                         || (doc_id - doc_id % 2)::VARCHAR
                         || '?a=1&b=2&gclid=' || doc_id::VARCHAR
                       END
                       || CASE WHEN doc_id % 3 = 0 THEN '#frag?fx=9' ELSE '' END
                     END AS url
              FROM documents
            ), f AS (
              SELECT doc_id,
                     lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     __HOSTPORT_EXPR__ AS hostport,
                     regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS raw_path,
                     regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\\?(.*)$', 1) AS query
              FROM u
            ), g AS (
              SELECT doc_id, scheme,
                     regexp_extract(hostport, '^(\\[[^\\]]*\\]|[^:]*)', 1) AS host_token,
                     regexp_extract(hostport, '^(?:\\[[^\\]]*\\]|[^:]*):([0-9]+)$', 1) AS port,
                     CASE WHEN raw_path = '' THEN '/' ELSE raw_path END AS path,
                     list_sort(list_filter(string_split(query, '&'),
                       p -> p <> '' AND NOT regexp_matches(p, '__TRACK_RE__'))) AS params
              FROM f
            ), c AS (
              SELECT doc_id,
                     CASE WHEN scheme = ''
                          OR regexp_replace(host_token, '^\\[|\\]$', '', 'g') = ''
                     THEN NULL
                     ELSE scheme || '://' || host_token
                       || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443')
                               THEN '' ELSE ':' || port END
                       || path
                       || CASE WHEN len(params) = 0 THEN ''
                               ELSE '?' || array_to_string(params, '&') END
                     END AS canon_url
              FROM g
            )
            SELECT doc_id, canon_url,
                   (count(*) OVER (PARTITION BY canon_url))::INTEGER AS n_same_key
            FROM c
        """.replace("__TRACK_RE__", _track_re())
        .replace("__HOSTPORT_EXPR__", _hostport_sql("url")),
        # robots filtering: the parsed rules of the fixed template are
        # replayed as VALUES; same LIKE patterns (ESCAPE '\\'), same
        # longest-rule/allow-wins window, same subdomain-safe domain
        # match and listed/unlisted distinction
        "url_links": _links_oracle_sql(),
        "url_pagerank": _pagerank_oracle_sql(),
        "url_pagerank_warm": _pagerank_warm_oracle_sql(),
        "url_canonical": _canonical_oracle_sql(),
        "url_schedule": """
            WITH langs AS (
              SELECT DISTINCT lang,
                     (ascii(substr(lang, 1, 1)) % 3 + 1)::INTEGER AS dly
              FROM documents
            ),
            u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0 THEN
                       'https://unlisted-' || lang || '.org/p/' || doc_id::VARCHAR
                     WHEN doc_id % 13 = 6 THEN
                       'https://[2001:db8::a]:8443/p/' || doc_id::VARCHAR
                     ELSE
                       'https://site-' || lang || '.com/p/' || doc_id::VARCHAR
                     END AS url,
                     (doc_id % 7)::INTEGER AS prio
              FROM documents
            ),
            f AS (
              SELECT doc_id, url, prio,
                     __HOST_EXPR__ AS host
              FROM u
            ),
            j AS (
              SELECT f.*,
                     coalesce(l.dly * 1.0, 0.5) AS delay
              FROM f LEFT JOIN langs l
                ON f.host = 'site-' || l.lang || '.com'
            )
            SELECT doc_id, url, prio,
                   (row_number() OVER (
                      PARTITION BY host
                      ORDER BY prio DESC NULLS LAST, url
                    ) - 1) * delay AS fetch_at
            FROM j
        """.replace("__HOST_EXPR__", _host_sql("url")),
        "url_robots": """
            WITH doms AS (
              SELECT 'site-' || lang || '.com' AS domain
              FROM (SELECT DISTINCT lang FROM documents)
              UNION ALL SELECT '2001:db8::1'
            ),
            rules AS (
              SELECT d.domain,
                     r.allow, r.rule_len, r.like_pattern
              FROM doms d, (VALUES
                (false, 9, '/private/%'),
                (true, 11, '/private/ok%'),
                (false, 10, '/tmp%.bak'),
                (false, 13, '/%?sessionid=%')
              ) AS r(allow, rule_len, like_pattern)
            ),
            u AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0 THEN
                       'https://unlisted-' || lang || '.org/x'
                     ELSE
                       CASE WHEN doc_id % 13 = 6
                            THEN 'https://u@[2001:db8::1]:8080'
                            ELSE 'https://site-' || lang || '.com' END
                       || CASE doc_id % 5 WHEN 0 THEN '/public/'
                            WHEN 1 THEN '/private/' WHEN 2 THEN '/private/ok/'
                            ELSE '/tmp' END
                       || doc_id::VARCHAR
                       || CASE doc_id % 5 WHEN 3 THEN '.bak'
                            WHEN 4 THEN '.bak.txt' ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                            THEN '?sessionid=' || doc_id::VARCHAR ELSE '' END
                       || CASE WHEN doc_id % 9 = 0
                            THEN '#frag?sessionid=9' ELSE '' END
                     END AS url
              FROM documents
            ),
            f AS (
              SELECT doc_id, url,
                     __HOST_EXPR__ AS host,
                     CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) = ''
                          THEN '/'
                          ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)
                     END AS path
              FROM u
            ),
            listed AS (
              SELECT f.doc_id, max(1) AS is_listed
              FROM f JOIN (SELECT DISTINCT domain FROM rules) d
                ON f.host = d.domain OR ends_with(f.host, '.' || d.domain)
              GROUP BY f.doc_id
            ),
            j AS (
              SELECT f.doc_id, f.url, r.allow, r.rule_len,
                     row_number() OVER (
                       PARTITION BY f.doc_id
                       ORDER BY r.rule_len DESC NULLS LAST,
                                r.allow DESC NULLS LAST
                     ) AS rn
              FROM f LEFT JOIN rules r
                ON (f.host = r.domain OR ends_with(f.host, '.' || r.domain))
                   AND f.path LIKE r.like_pattern ESCAPE '\\'
            )
            SELECT j.doc_id, j.url
            FROM j LEFT JOIN listed l ON j.doc_id = l.doc_id
            WHERE j.rn = 1
              AND CASE WHEN j.rule_len IS NOT NULL THEN j.allow
                       WHEN l.is_listed IS NOT NULL THEN TRUE
                       ELSE FALSE END
        """.replace("__HOST_EXPR__", _host_sql("url")),
        # exact percentiles: quantile_cont ≡ Spark percentile (A/B
        # verified bit-equal incl. interpolation error)
        "text_corpus_report": """
            WITH t AS (
              SELECT lang, source,
                     len(list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                     x -> x <> '')) AS n_tok,
                     length(coalesce(text, '')) AS n_chars,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN 1 ELSE 0 END AS emp
              FROM documents
            )
            SELECT lang, source,
                   count(*)::INTEGER AS n_docs,
                   sum(emp)::INTEGER AS n_empty,
                   sum(n_chars)::BIGINT AS n_chars_total,
                   sum(n_tok)::BIGINT AS n_tokens_total,
                   sum(n_tok) * 1.0 / count(*) AS mean_tokens,
                   quantile_cont(n_tok, 0.5) AS p50_tokens,
                   quantile_cont(n_tok, 0.95) AS p95_tokens,
                   max(n_tok)::INTEGER AS max_tokens
            FROM t GROUP BY lang, source
        """,
        # pack_token_ids over the SQL-derivable stand-in id column
        # (per-token lengths); list(... ORDER BY doc_id) replays the
        # in-group id ordering of array_sort(struct)
        "text_pack_ids": f"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 x -> x <> '') AS toks,
                     CAST(({_hash_bucket_sql('doc_id', 'pack')}) % 8 AS INTEGER) AS shard
              FROM documents
            ), c AS (
              SELECT doc_id, toks, shard,
                     len(toks)::INTEGER AS n,
                     CAST(sum(len(toks)) OVER (PARTITION BY shard ORDER BY doc_id)
                          AS BIGINT) AS e
              FROM t
            ), p AS (
              SELECT doc_id, shard,
                     CAST((e - n) // 256 AS BIGINT) AS pack,
                     list_transform(toks, x -> length(x)) AS tids
              FROM c
            )
            SELECT shard, pack,
                   count(*)::INTEGER AS n_docs,
                   len(flatten(list(tids ORDER BY doc_id)))::INTEGER AS n_tokens,
                   array_to_string(flatten(list(tids ORDER BY doc_id)), '|') AS ids_str
            FROM p GROUP BY shard, pack
        """,
        "text_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), w AS (
              SELECT doc_id, t, greatest(len(t) - 4, 0) AS n_windows FROM toks
            ), sh AS (
              SELECT doc_id, n_windows,
                     CASE WHEN n_windows > 0 THEN (
                       SELECT count(DISTINCT array_to_string(t[i.g : i.g + 4], ' '))
                       FROM (SELECT unnest(generate_series(1, n_windows)) AS g) i
                     ) ELSE 0 END AS n_distinct_windows
              FROM w
            )
            SELECT doc_id, n_windows, n_distinct_windows,
                   CASE WHEN n_windows > 0
                        THEN (n_windows - n_distinct_windows) * 1.0 / n_windows
                        ELSE 0.0 END AS dup_window_frac
            FROM sh
        """,
        "sample_uniform": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_hash_bucket_sql('doc_id', 'r4')} < 4294967296 * 0.25
        """,
        "sample_fixed": f"""
            SELECT doc_id, lang FROM documents
            ORDER BY {_hash_bucket_sql('doc_id', 'r4')}, doc_id LIMIT 40
        """,
        "sample_epoch": f"""
            SELECT doc_id,
                   CAST(({_hash_bucket_sql('doc_id', 'epoch:r6')}) % 8 AS INT) AS shard,
                   {_hash_bucket_sql('doc_id', 'epoch:r6')} AS shuffle_ord
            FROM documents
        """,
        "sample_split": f"""
            SELECT doc_id,
                   CASE WHEN {_hash_bucket_sql('doc_id', 'split')}
                          < 4294967296 * 0.2
                        THEN 'test' ELSE 'train' END AS side
            FROM documents
        """,
        "sample_mixture": _mixture_oracle_sql(),
        "sample_weighted": f"""
            -- A-ES: top-k by ln(u)/w desc with the md5 u-draw; the
            -- score orders but is NOT emitted (ln differs in the last
            -- ulp across engines; the selected rows are exact)
            WITH w AS (
              SELECT doc_id, CAST(length(text) AS DOUBLE) AS w
              FROM documents
            )
            SELECT doc_id, w FROM w
            WHERE w IS NOT NULL AND w > 0
            ORDER BY ln(({_hash_bucket_sql('doc_id', 'r7')} + 0.5)
                        / 4294967296.0) / w DESC,
                     doc_id
            LIMIT 100
        """,
        "sample_cap_per_group": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_hash_bucket_sql('doc_id', 'cap')}, doc_id
                     ) AS rk
              FROM documents
            ) WHERE rk <= 10
        """,
        "skew_report": """
            WITH pairs AS (
              SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS value FROM orders
              UNION ALL
              SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
              UNION ALL
              SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
            ), cnts AS (
              SELECT col_name, value, count(*) AS cnt
              FROM pairs GROUP BY col_name, value
            )
            SELECT col_name, value, cnt, share, rank
            FROM (
              SELECT *,
                     CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY col_name) AS DOUBLE) AS share,
                     row_number() OVER (
                       PARTITION BY col_name
                       ORDER BY cnt DESC, value ASC NULLS FIRST
                     ) AS rank
              FROM cnts
            ) WHERE rank <= 5
        """,
        "sample_cap_tokens": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     sum(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0)) || 'tok'), 1, 8))::BIGINT, doc_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS cum
              FROM documents
            ) WHERE cum <= 4000
        """,
        "text_filter_quality": """
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0 THEN
                       repeat('中文字符的段落テスト',
                              CAST(doc_id % 7 + 5 AS INTEGER))
                     ELSE text END AS text
              FROM documents
            ), t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(
                       regexp_replace(text, '([一-鿿぀-ヿ])', ' \\1 ', 'g')
                     ), '\\s+'), x -> x <> '') AS toks,
                     (length(text) - length(
                        regexp_replace(text, '[一-鿿぀-ヿ]', '', 'g'))) * 2
                       >= length(regexp_replace(text, '\\s', '', 'g'))
                       AS cjk_dom
              FROM s
            ), sig AS (
              SELECT doc_id, cjk_dom,
                     CAST(len(toks) AS DOUBLE) AS n_tokens,
                     CAST(list_sum(list_transform(toks, x -> length(x)))
                          AS DOUBLE) / len(toks) AS mean_token_len,
                     CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                          AS DOUBLE) / length(text) AS symbol_ratio,
                     CAST(len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','is','in','that','it','for','with'],
                       lower(x)))) AS DOUBLE) / len(toks) AS stopword_ratio
              FROM t
            ), chk AS (
              SELECT *,
                     list_filter([
                       CASE WHEN NOT (n_tokens IS NOT NULL AND n_tokens >= 50.0
                                      AND n_tokens <= 100000.0)
                            THEN 'n_tokens' END,
                       CASE WHEN NOT ((mean_token_len IS NOT NULL
                                      AND mean_token_len >= 3.0
                                      AND mean_token_len <= 10.0) OR cjk_dom)
                            THEN 'mean_token_len' END,
                       CASE WHEN NOT (symbol_ratio IS NOT NULL
                                      AND symbol_ratio >= 0.0
                                      AND symbol_ratio <= 0.1)
                            THEN 'symbol_ratio' END,
                       CASE WHEN NOT ((stopword_ratio IS NOT NULL
                                      AND stopword_ratio >= 0.02
                                      AND stopword_ratio <= 1.0) OR cjk_dom)
                            THEN 'stopword_ratio' END
                     ], x -> x IS NOT NULL) AS failed_rules
              FROM sig
            )
            SELECT doc_id, n_tokens, mean_token_len, symbol_ratio,
                   stopword_ratio,
                   coalesce(array_to_string(failed_rules, '|'), '')
                       AS failed_rules,
                   len(failed_rules) = 0 AS keep
            FROM chk
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_hash_bucket_sql('doc_id', 'strat')}
                  < 4294967296 * (CASE lang WHEN 'en' THEN 0.5
                                            WHEN 'de' THEN 0.2
                                            ELSE 0.1 END)
        """,
        "text_contamination": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
              FROM documents
            ), nz AS (
              -- mirror _ngram_rows' empty-doc filter: a whitespace-only
              -- doc emits NO shingles, not one '' shingle
              SELECT * FROM toks WHERE len(t) > 0
            ), bsh AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
              FROM nz,
                   LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i) g
              WHERE doc_id % 17 = 0
            ), csh AS (
              SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS s
              FROM nz,
                   LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i) g
              WHERE doc_id % 17 <> 0
            )
            SELECT bsh.doc_id,
                   count(*) AS n_ngrams,
                   count(csh.s) AS n_contaminated,
                   count(csh.s) * 1.0 / count(*) AS contamination
            FROM bsh LEFT JOIN csh ON bsh.s = csh.s
            GROUP BY bsh.doc_id
        """,
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())
        """,
        "agg_distinct": """
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "asof_join": """
            WITH e AS (
              SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_sec
              FROM events
            ), o AS (
              SELECT o_custkey AS user_id,
                     epoch_ns(o_orderdate) // 1000000000 AS ot,
                     max(o_orderkey) AS last_orderkey
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, e.ts_sec, o.last_orderkey
            FROM e ASOF LEFT JOIN o
              ON e.user_id = o.user_id AND e.ts_sec >= o.ot
        """,
        "convert_numeric": """
            SELECT p_partkey,
                   CASE WHEN p_partkey % 7 = 0 THEN -1.0
                        WHEN p_partkey % 11 = 0 THEN -2.0
                        ELSE p_size::DOUBLE END AS raw
            FROM part
        """,
        "multimodal_meta": """
            WITH b AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0
                          THEN from_hex('89504E470D0A1A0A') || encode(text)
                          WHEN doc_id % 7 = 1
                          THEN from_hex('7B5C72746631') || encode(text)
                          WHEN doc_id % 7 = 2
                          THEN from_hex('504B030414') || encode(text)
                          WHEN doc_id % 7 = 3
                          THEN from_hex('D0CF11E0A1B11AE1') || encode(text)
                          ELSE encode(text) END AS blob
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 'png'
                        WHEN doc_id % 7 = 1 THEN 'rtf'
                        WHEN doc_id % 7 = 2 THEN 'zip'
                        WHEN doc_id % 7 = 3 THEN 'ole'
                        ELSE 'unknown' END AS media_format,
                   octet_length(blob) AS n_bytes,
                   md5(lower(hex(blob))) AS content_hash
            FROM b
        """,
    }
