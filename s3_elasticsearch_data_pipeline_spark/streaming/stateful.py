"""Custom stateful streaming operators (M4 extension surface — the
escape hatch for operators Structured Streaming's built-in
aggregations can't express), on ``applyInPandasWithState``.

``running_user_totals`` maintains per-user counters across micro-
batches: event count, value sum, last-seen timestamp. Each batch emits
the UPDATED cumulative row per user touched in that batch — the
streaming twin of a running ``groupBy(user).agg(...)`` that never
re-reads history (state is O(users), not O(events)).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from s3_elasticsearch_data_pipeline_spark.streaming.windowed import (
    _file_stream, _nanos_scoped)

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts timestamp"
STATE_SCHEMA = "n_events long, total_value double, last_ts timestamp"


def _update_user(key: tuple[Any, ...],
                 batches: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_ts = state.get if state.exists else (0, 0.0, None)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        batch_max = pdf["ts"].max()
        last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
    state.update((n, round(total, 2), last_ts))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "total_value": [round(total, 2)],
                        "last_ts": [last_ts]})


@_nanos_scoped
def running_user_totals(spark: SparkSession, events_path: str) -> DataFrame:
    """Drain the bounded events table through the stateful operator and
    return the final per-user cumulative totals.

    At scale this runs unbounded with a real trigger; state lives in
    the checkpoint's state store, partitioned by user hash — the same
    shuffle key as a batch groupBy, so skew/AQE reasoning carries over.
    """
    updated = (_file_stream(spark, events_path)
               .select("user_id", "ts", "value")
               .groupBy("user_id")
               .applyInPandasWithState(
                   _update_user, OUTPUT_SCHEMA, STATE_SCHEMA,
                   "update", GroupStateTimeout.NoTimeout))
    name = f"stateful_{uuid.uuid4().hex[:8]}"
    q = (updated.writeStream.outputMode("update")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update-mode memory sink appends one row per (batch, user); the
    # cumulative row with the highest n_events per user is the final one
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.table(name)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))
