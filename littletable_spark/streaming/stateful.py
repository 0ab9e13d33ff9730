"""Custom stateful streaming operators (applyInPandasWithState).

Net-new capability (the reference has no streaming at all, SURVEY §2.9).
``running_totals_stream`` keeps per-key running aggregates in managed
state and emits an updated row per key per micro-batch — the canonical
shape for "custom stateful operator" pipelines (counters, sessionizers,
dedup-within-stream). State is a compact fixed-width tuple so the state
store stays O(#keys), not O(#events).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.parquet_io import read_parquet
from .events import TS_NANOS_CONF


def running_totals_stream(
    spark: SparkSession,
    path: str,
    key: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Stream the events parquet through a stateful per-key running
    aggregate; returns the drained memory-sink DataFrame (one row per key
    per micro-batch update; latest row per key = final totals)."""
    if path.endswith(".parquet") and not os.path.isdir(path):
        stage_dir = tempfile.mkdtemp(prefix="lts_state_")
        shutil.copy(path, stage_dir)
        path = stage_dir
    prev = spark.conf.get(TS_NANOS_CONF, None)
    spark.conf.set(TS_NANOS_CONF, "true")
    try:
        schema = read_parquet(spark, path).schema
        stream = spark.readStream.schema(schema).parquet(path)
    finally:
        if prev is not None:
            spark.conf.set(TS_NANOS_CONF, prev)

    out_schema = f"{key} long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [(key_tuple[0], n, total)], columns=[key, "n_events", "total_value"]
        )

    result = (
        stream.groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    qname = f"lts_state_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT {key}, n_events, total_value FROM {qname}"
    )
