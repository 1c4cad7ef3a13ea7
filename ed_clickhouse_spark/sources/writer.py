"""Append writer: the MergeTree-equivalent write policy (Layer A7).

The reference appends micro-batches to ClickHouse MergeTree tables
ordered by ``(timestamp, event_name)`` (every migration's ``ORDER BY``).
The Spark-native equivalent of that primary index is a write policy, not
an engine feature (SURVEY.md §4):

  * partition directories by ``event_date`` -> partition pruning ≙
    granule skipping on the leading timestamp;
  * ``sortWithinPartitions(timestamp, event_name)`` before write ->
    tight parquet row-group min/max stats ≙ the sparse primary index.

At 100 TB this layout bounds every time-range query to the scanned days
and, within a day, to the row groups overlapping the range.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_events(df: DataFrame, warehouse: str, table: str) -> None:
    """Append a (typed) event batch to ``warehouse/table``, date-
    partitioned and sorted within partitions like MergeTree ORDER BY.

    The sort is PREFIXED with the partition column (r12): the dynamic-
    partition writer requires its input ordered by the partition
    columns and, when it is not, inserts its own (non-stable) sort —
    which scrambled the (timestamp, event_name) order inside every
    written file (measured: 64/64 files out of order), silently voiding
    the MergeTree-ORDER-BY row-group-stats contract this module
    documents. event_date = to_date(timestamp) is monotonic in
    timestamp under the UTC session, so the prefixed sort yields the
    identical intended row order in ONE sort and the writer inserts
    none (guide §6: sort order on write determines reader skipping)."""
    (
        df.withColumn("event_date", F.to_date("timestamp"))
        .sortWithinPartitions("event_date", "timestamp", "event_name")
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(os.path.join(warehouse, table))
    )


def append_dlq(df: DataFrame, warehouse: str) -> None:
    """Dead-letter append of ``df``'s (subject, payload, reason) rows:
    raw payload + subject + reason + the append's timestamp. The reference
    silently Terms these (``src/main.rs:70``, ``src/handler.rs:130``);
    keeping them queryable is a strict upgrade."""
    (
        df.select(
            F.col("subject"),
            F.col("payload").alias("raw_payload"),
            F.col("reason"),
            F.current_timestamp().alias("dlq_at"),
        )
        .write.mode("append")
        .parquet(os.path.join(warehouse, "_dlq"))
    )
