"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState`` (SURVEY.md §2.7 — beyond the reference, which is
strictly batch; this is the Structured Streaming shape a webtext event
pipeline needs for session-windowed training-data curation).

State per user_id: (last_ts epoch seconds, n_events, n_sessions).  Each
micro-batch's rows are sorted by (ts, event_id) inside the state function
and folded into the carried state: a gap > ``gap_seconds`` (or the first
event ever) opens a new session — exactly a batch window-lag
sessionization (the ``stream_sessionize`` entry's SQL oracle), so the
bounded-source result is identical to the batch oracle.

Production notes: pair with a watermark-driven ``GroupStateTimeout`` so
idle users' state is evicted (here the source is bounded and the smoke
harness uses NoTimeout); state is Arrow-serialized per group — scale-out is
by user_id hash partitioning, the natural key."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
    ]
)


def make_session_fn(gap_seconds: int = 1800):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_ts, n_events, n_sessions = (
            state.get if state.exists else (None, 0, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        for ts in rows["ts"].map(lambda t: t.timestamp()):
            if last_ts is None or (ts - last_ts) > gap_seconds:
                n_sessions += 1
            n_events += 1
            last_ts = ts
        state.update((last_ts, int(n_events), int(n_sessions)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [int(n_events)],
                "n_sessions": [int(n_sessions)],
            }
        )

    return update


def sessionize_stream(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """streaming events → per-user running (n_events, n_sessions) via
    applyInPandasWithState (update mode)."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            make_session_fn(gap_seconds),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_sessionize_batch_equivalent(
    spark: SparkSession, events_path: str, gap_seconds: int = 1800
) -> DataFrame:
    """Drive the stateful stream over a bounded parquet source (memory
    sink, availableNow) and return the final per-user counts.  Counts are
    monotone, so the latest update per user = max — robust to multi-batch
    replays of the same bounded source."""
    import os
    import shutil
    import tempfile

    if os.path.isfile(events_path):
        staged = os.path.join(
            tempfile.gettempdir(),
            "ges_sess_src",
            os.path.abspath(events_path).strip("/").replace("/", "_"),
            os.path.basename(events_path),
        )
        os.makedirs(os.path.dirname(staged), exist_ok=True)
        if not os.path.exists(staged):
            shutil.copy(events_path, staged)
        events_path = os.path.dirname(staged)
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    name = "ges_sessionize_out"
    q = (
        sessionize_stream(stream, gap_seconds)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT user_id, max(n_events) AS n_events, "
        f"max(n_sessions) AS n_sessions FROM {name} GROUP BY user_id"
    )
