"""Event-time replay (SURVEY.md §2a rows 20-21).

The reference's absent ``xml_generator`` module is specified by its
call sites (main.py:41-51): ``get_batches()`` yields
``(ts_millis, [payload, ...])`` in ascending event-time order, one
batch per distinct timestamp; the producer sleeps
``(ts - last_ts)/1000`` seconds between batches (first batch
immediate) and out-of-order timestamps are sent immediately
(``last_ts < ts`` guard). SURVEY §0 documents the inference.

Spark-first split of responsibilities:
- **batching/ordering** is a DataFrame op: groupBy event time +
  collect_list + orderBy — distributed, spill-safe;
- **pacing** is inherently sequential wall-clock behavior, so it runs
  driver-side over ``toLocalIterator`` (one partition's batches in
  memory at a time, never the full stream) or bounded inside
  ``foreachBatch`` for the streaming path.

``speedup`` scales the cadence (``inf`` → as fast as possible);
``max_sleep_s`` bounds any single gap so a day-long hole in the data
cannot stall a micro-batch (SURVEY §7 hard part (c)).
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_GROUP_SCHEMA = T.StructType(
    [T.StructField("data", T.BinaryType()), T.StructField("partition_key", T.StringType())]
)


def event_time_batches(
    df: DataFrame,
    ts_col: str | Column = "ts",
    payload_col: str | Column = "payload",
) -> DataFrame:
    """One row per distinct event time: (ts, payloads array), ascending."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    payload = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    return (
        df.select(ts.alias("ts"), payload.alias("payload"))
        .groupBy("ts")
        .agg(F.collect_list("payload").alias("payloads"))
        .orderBy("ts")
    )


def replay(
    batches: DataFrame,
    produce: Callable[[object, list], None],
    speedup: float = math.inf,
    max_sleep_s: float = 5.0,
    on_error: str = "skip",
) -> dict:
    """Drive ``produce(ts, payloads)`` at the original event-time cadence.

    ``on_error='skip'`` reproduces the reference's batch-level
    containment (log & continue, main.py:45-49); ``'raise'`` fails fast.
    Returns counters (SURVEY §2a row 28 observability).
    """
    stats = {"batches": 0, "records": 0, "skipped_batches": 0, "slept_s": 0.0}
    last_ts: float | None = None
    for row in batches.toLocalIterator():
        ts, payloads = row["ts"], row["payloads"]
        ts_s = ts.timestamp() if hasattr(ts, "timestamp") else float(ts) / 1000.0
        if last_ts is not None and last_ts < ts_s and speedup != math.inf:
            delay = min((ts_s - last_ts) / speedup, max_sleep_s)
            if delay > 0:
                time.sleep(delay)
                stats["slept_s"] += delay
        try:
            produce(ts, payloads)
            stats["batches"] += 1
            stats["records"] += len(payloads)
        except Exception:  # noqa: BLE001
            if on_error == "raise":
                raise
            stats["skipped_batches"] += 1
        # advance even on skip/out-of-order, mirroring main.py:51
        last_ts = max(last_ts, ts_s) if last_ts is not None else ts_s
    return stats


def replay_to_kinesis(
    df: DataFrame,
    sink,
    ts_col: str = "ts",
    payload_col: str = "payload",
    partition_key: str | Column = "partition_key",
    speedup: float = math.inf,
    max_sleep_s: float = 5.0,
) -> DataFrame:
    """Batch-mode paced replay through a KinesisSink.

    The groups are ``event_time_batches`` whose payload is the record
    ``struct(data, partition_key)``: the payload cast to binary and the
    key cast to string. Pacing happens between groups. Each group already
    sits on the driver (``toLocalIterator``), so it is handed to
    ``sink.write_batch`` as a local frame and sent in-process: no Spark
    job per group, only the one sorted scan that forms the groups. Acks
    are collected per group; the returned ack frame is local too, so
    collecting it launches no job. Suitable for moderate batch counts;
    use ``foreachBatch`` streaming for unbounded replay.
    """
    from kinesis_producer_spark.streaming.kinesis_sink import ACK_SCHEMA, local_frame

    key = F.col(partition_key) if isinstance(partition_key, str) else partition_key
    record = F.struct(
        F.col(payload_col).cast("binary").alias("data"), key.cast("string").alias("partition_key")
    )
    batches = event_time_batches(df, ts_col, record)
    spark = df.sparkSession
    acks: list = []

    def produce(ts, payloads) -> None:
        group = local_frame(spark, [p.asDict() for p in payloads], _GROUP_SCHEMA)
        acks.extend(r.asDict() for r in sink.write_batch(group).collect())

    replay(batches, produce, speedup=speedup, max_sleep_s=max_sleep_s)
    return local_frame(spark, acks, ACK_SCHEMA)
