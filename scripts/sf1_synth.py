"""Synthesize a 10x dataset (~sf1 from sf0.1) for scale readings.

Writes 10 replicas of every base table under one rule, as parquet
under the output dir, so `scripts/time_query.py --sf SRC --sf OUT`
can time registry rows at both scales:

- every key and id column (a name ending in ``key`` or ``_id``) is
  shifted by ``i * SHIFT`` in replica ``i``, in every table. Keys are
  distinct across replicas and each join stays inside its replica, so
  join outputs grow exactly 10x.
- documents: ``text`` has its letters ``aeiousnrtl`` rotated by ``i``
  and a " rNN" sentinel token appended. A replica is then neither a
  clone nor a near-duplicate of another: a sentinel alone leaves every
  shingle shared by 10 documents, so the n-gram Jaccard join of
  ``dedup_jaccard`` grows 100x instead of 10x.
- embeddings: the components are rotated cyclically by ``i``
  positions, which keeps norms and makes each replica's vectors far
  from the others' (a small-angle rotation leaves 10 near-identical
  vectors, which the dedup and top-k rows pair up quadratically).

Usage: python scripts/sf1_synth.py [OUT_DIR [SRC_DIR]]
(defaults /tmp/sf1synth and /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
COPIES = 10
SHIFT = 10_000_000
LETTERS = "aeiousnrtl"  # COPIES distinct rotations


def is_key(col: str) -> bool:
    return col.endswith("key") or col.endswith("_id")


def _replica_col(col: str, i: int) -> Column:
    c = F.col(col)
    if is_key(col):
        return c + F.lit(i * SHIFT)
    if col == "text":
        rotated = F.translate(c, LETTERS, LETTERS[i:] + LETTERS[:i])
        return F.concat(rotated, F.lit(f" r{i:02d}"))
    if col == "embedding":
        n = F.size(c)
        return F.concat(F.slice(c, i + 1, n), F.slice(c, 1, i))
    return c


def replicate(df: DataFrame) -> DataFrame:
    """The union of ``COPIES`` shifted and salted replicas of ``df``,
    each with the schema of ``df``."""
    return reduce(DataFrame.union, (
        df.select(*(_replica_col(c, i).cast(t).alias(c) for c, t in df.dtypes))
        for i in range(COPIES)
    ))


def synth(spark, src: str, out: str) -> None:
    from littletable_spark.sources.parquet_io import read_parquet

    for t in TABLES:
        replicate(read_parquet(spark, f"{src}/{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")


def main() -> None:
    from littletable_spark import get_spark

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1synth"
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark(cpus=cpus)
    synth(spark, src, out)
    for t in TABLES:
        print(f"{t}: {spark.read.parquet(f'{out}/{t}.parquet').count()} rows")


if __name__ == "__main__":
    main()
