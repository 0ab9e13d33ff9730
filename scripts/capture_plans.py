"""Plan-shape digest of the query registry: ``plans/shapes.json``.

Usage:
    python scripts/capture_plans.py           # rewrite plans/shapes.json
    python scripts/capture_plans.py --check   # compare, exit 1 on a change

Builds every registry query at sf0.001, in registry order, and records
``plan_shape`` (plans/lint.py) of each: its physical operators, counted
by name. With ``--check`` it prints one line per query whose shape
differs from the committed digest (``dedup_jaccard: +1 Exchange
hashpartitioning``) and the formatted explain of those queries only.

The digest is only reproducible in a fresh process, so this script is
run on its own, never inside another session: within one session,
earlier operator calls and released caches change later plans (after
``spark.catalog.clearCache()`` and a emptied cache registry,
``dedup_jaccard`` gains an ``Exchange hashpartitioning`` in every later
sweep). It also unsets ``SPARK_GRAFT_CACHE_TABLES`` (cached base tables
would turn scans into ``InMemoryTableScan``s) and fixes the core count.
Side-effecting lifecycle queries (``stream_ingest_*``) run their ingest
while they are built; their shape is the final read-back's.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
SHAPES = os.path.join(ROOT, "plans", "shapes.json")
CPUS = 8


def shape_diff(old: dict[str, int] | None, new: dict[str, int] | None) -> str:
    """``+1 Exchange hashpartitioning, -2 Sort``; '' when equal."""
    if old is None:
        return "new query"
    if new is None:
        return "no longer in the registry"
    deltas = (
        (new.get(op, 0) - old.get(op, 0), op) for op in sorted({*old, *new})
    )
    return ", ".join(f"{d:+d} {op}" for d, op in deltas if d)


def registry_shapes(check: dict | None = None) -> dict[str, dict[str, int]]:
    """Build every registry query in a fresh session and return its
    ``plan_shape``, in registry order. With ``check`` (a committed
    digest), print each changed query's diff and formatted explain."""
    # Python workers import littletable_spark from the working directory
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)

    import __spark_entry__ as entrymod
    from littletable_spark import get_spark, plan_shape

    spark = get_spark(cpus=CPUS)
    shapes = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        shapes[name] = plan_shape(df)
        if check is not None:
            diff = shape_diff(check.get(name), shapes[name])
            if diff:
                print(f"{name}: {diff}")
                print(
                    spark._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                )
    for name in check or ():
        if name not in shapes:
            print(f"{name}: {shape_diff(check[name], None)}")
    return shapes


def main() -> None:
    if sys.argv[1:] == ["--check"]:
        with open(SHAPES) as fh:
            committed = json.load(fh)
        sys.exit(0 if registry_shapes(check=committed) == committed else 1)
    if sys.argv[1:]:
        raise SystemExit(__doc__)
    shapes = registry_shapes()
    with open(SHAPES, "w") as fh:
        json.dump(shapes, fh, indent=1)
        fh.write("\n")
    print(f"wrote {SHAPES} ({len(shapes)} queries)")


if __name__ == "__main__":
    main()
