"""Time individual registry queries in isolation (bench methodology).

Usage: python scripts/time_query.py NAME [NAME...] [--passes N] [--sf DIR]

Replicates bench.py's steady-state methodology for a subset of queries:
cached base tables, an untimed warmup pass, then per-query median over N
timed passes against the noop sink. Prints one JSON line per query, with
the classes Spark compiled in each timed pass next to its sample (a
nonzero count means that pass paid for codegen), plus a JVM calibration
figure so readings taken at different moments stay comparable. Used for
same-box A/Bs during optimization rounds — the citable numbers remain
the driver's BENCH artifacts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    passes = 5
    sf_dir = SF_DIR
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--passes":
            passes = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entrymod
    from littletable_spark import get_spark
    from pyspark.sql import functions as F

    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    spark = get_spark(cpus=CPUS)
    queries = entrymod.queries()
    for n in names:
        if n not in queries:
            raise SystemExit(f"unknown query: {n}")

    def cal_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 2_000_000_000, 1, CPUS).select(
            F.max(F.xxhash64(F.col("id"))).alias("s")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warmup: parquet caches, table cache fill, and codegen. The warmup
    # keeps its classes for the timed passes only while they fit in
    # Spark's codegen cache, which get_spark sizes to 2000 classes; a
    # session made elsewhere keeps Spark's 100, and the compiles column
    # shows the timed passes compiling again.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for n in names:
        spark.sparkContext.setJobDescription(f"warmup {n}")
        queries[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
    cal_once()
    cal_pre = round(sorted(cal_once() for _ in range(3))[1], 3)

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    out = {}
    for n in names:
        samples, compiles = [], []
        for p in range(passes):
            spark.sparkContext.setJobDescription(f"timed {n} pass {p}")
            c0 = compiled()
            t0 = time.perf_counter()
            queries[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            compiles.append(compiled() - c0)
        med = sorted(samples)[len(samples) // 2]
        out[n] = {"median": med, "samples": samples}
        print(json.dumps({"query": n, "median": med, "samples": samples,
                          "compiles": compiles}))
    cal_post = round(sorted(cal_once() for _ in range(3))[1], 3)
    print(json.dumps({
        "cal_pre": cal_pre, "cal_post": cal_post, "sf_dir": sf_dir,
        "cpus": CPUS,
        "medians": {n: v["median"] for n, v in out.items()},
    }))


if __name__ == "__main__":
    main()
