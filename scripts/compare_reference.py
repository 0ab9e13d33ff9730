"""Head-to-head: this engine vs the reference (ptmcg/littletable) on the
same data, same machine, same logical queries.

The reference is imported from /root/reference (pure-Python, single
process); our side runs on local[$SPARK_GRAFT_CPUS]. Data is the
driver's sf parquet loaded identically into both engines. Reference
operations used are its public API only (where/join/orderby + dict
accumulation for the grouped aggregate, mirroring its
groupby_with_summaries callable style).

Usage: python scripts/compare_reference.py [sf_dir]
Prints one JSON line {query: {reference_sec, ours_sec, speedup}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, "/root/reference")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def rows(table: str) -> list[dict]:
    import duckdb

    con = duckdb.connect()
    cur = con.sql(f"SELECT * FROM '{SF_DIR}/{table}.parquet'")
    cols = cur.columns
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _stub_rich() -> None:
    """The reference imports `rich` at module level but only uses it in
    `present()` (littletable.py:155, 3959, 4062), which this comparison
    never calls; stub it so the import succeeds without the package."""
    import types

    if "rich" in sys.modules:
        return
    # only what module import needs; rich.table/rich.console stay
    # unimportable so ImportError fallbacks elsewhere still fire
    rich = types.ModuleType("rich")
    rich.box = types.SimpleNamespace(ASCII=None)
    sys.modules["rich"] = rich
    sys.modules["rich.box"] = rich.box  # type: ignore[assignment]


def main() -> None:
    _stub_rich()
    import littletable as lt  # the reference, from /root/reference

    from littletable_spark import Table, get_spark

    li_rows = rows("lineitem")
    o_rows = rows("orders")
    c_rows = rows("customer")

    # ---- reference side (load untimed) ----
    r_li = lt.Table("lineitem")
    r_li.insert_many(dict(r) for r in li_rows)
    r_o = lt.Table("orders")
    r_o.insert_many(dict(r) for r in o_rows)
    r_c = lt.Table("customer")
    r_c.insert_many(dict(r) for r in c_rows)

    # ---- our side (load untimed; one warmup per query for JIT) ----
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    s_li = Table.parquet_import(spark, f"{SF_DIR}/lineitem.parquet")
    s_o = Table.parquet_import(spark, f"{SF_DIR}/orders.parquet")
    s_c = Table.parquet_import(spark, f"{SF_DIR}/customer.parquet")

    results: dict[str, dict] = {}

    def record(name, ref_fn, ours_fn, check=None):
        ref_s, ref_out = timed(ref_fn)
        ours_fn()  # warmup: codegen/JIT compile, parquet footers
        ours_s, ours_out = timed(ours_fn)
        if check:
            assert check(ref_out, ours_out), f"{name}: result mismatch"
        results[name] = {
            "reference_sec": round(ref_s, 3),
            "ours_sec": round(ours_s, 3),
            "speedup": round(ref_s / ours_s, 1) if ours_s else None,
        }

    # 1. filter + count
    record(
        "where_quantity_gt30",
        lambda: len(r_li.where(l_quantity=lt.Table.gt(30.0))),
        lambda: len(s_li.where(l_quantity=Table.gt(30.0))),
        check=lambda a, b: a == b,
    )

    # 2. equi-join customer ⋈ orders
    record(
        "join_customer_orders",
        lambda: len(r_c.join(r_o, c_custkey="o_custkey")),
        lambda: len(s_c.join(s_o, c_custkey="o_custkey")),
        check=lambda a, b: a == b,
    )

    # 3. grouped aggregate (TPC-H Q1 shape): sum qty / sum price / count
    #    by (returnflag, linestatus). The reference has no native
    #    aggregate functions; its idiom is a callable per group.
    # pivot requires indexed attributes in the reference; build them
    # untimed (generous — our groupBy needs no precomputed structure)
    r_li.create_index("l_returnflag")
    r_li.create_index("l_linestatus")

    def ref_group():
        out = {}
        piv = r_li.pivot("l_returnflag l_linestatus")
        for level1 in piv.subtables:
            for sub in level1.subtables:  # leaf tables of the 2-attr pivot
                if not len(sub):
                    continue
                key = (sub[0].l_returnflag, sub[0].l_linestatus)
                out[key] = (
                    round(sum(r.l_quantity for r in sub), 2),
                    round(sum(r.l_extendedprice for r in sub), 2),
                    len(sub),
                )
        return out

    def ours_group():
        from pyspark.sql import functions as F

        g = s_li.groupby_with_summaries(
            "l_returnflag l_linestatus",
            sum_qty=F.round(F.sum("l_quantity"), 2),
            sum_price=F.round(F.sum("l_extendedprice"), 2),
            n=F.count(F.lit(1)),
        )
        return {
            (r.l_returnflag, r.l_linestatus): (r.sum_qty, r.sum_price, r.n)
            for r in g
        }

    record("group_q1_shape", ref_group, ours_group, check=lambda a, b: a == b)

    # 4. global sort + top-25
    record(
        "orderby_top25",
        lambda: [
            r.o_orderkey
            for r in r_o.clone().orderby("o_totalprice desc, o_orderkey")[:25]
        ],
        lambda: [
            r.o_orderkey
            for r in s_o.orderby("o_totalprice desc, o_orderkey").head(25)
        ],
        check=lambda a, b: a == b,
    )

    total_ref = round(sum(v["reference_sec"] for v in results.values()), 3)
    total_ours = round(sum(v["ours_sec"] for v in results.values()), 3)
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "queries": results,
                "total_reference_sec": total_ref,
                "total_ours_sec": total_ours,
                "total_speedup": round(total_ref / total_ours, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
