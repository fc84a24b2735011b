"""Per-partition lineage + metrics rows (stage B10, FIXTURES.md §6).

Every checkpointed stage emits rows
``(stage, partition_id, rows_out, input_sha, wall_ms, snapshot_id)`` —
observable as a DataFrame/parquet table, not log lines (the reference's
only telemetry is per-record prints, duplicatesuricate/merger.py:104-110).
Partition counts come from ``spark_partition_id()`` on the stage output —
an aggregation, not an accumulator, so it is exact under task retries.

The per-run values (``wall_ms``, ``snapshot_id``) enter the metrics plan as
a one-row local table, never as literals: Spark compiles long literals into
the generated Java, so a literal wall time would make every run compile
fresh classes for its metrics plan instead of reusing the cached ones.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "stage string, partition_id int, rows_out long, "
    "input_sha string, wall_ms long, snapshot_id long"
)


def input_sha(*parts: object) -> str:
    """Deterministic fingerprint of a stage's input lineage (stage names,
    parent row counts, config repr)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()


def partition_metrics(
    df: DataFrame,
    stage: str,
    in_sha: str,
    wall_ms: int,
    snapshot_id: int = 0,
) -> DataFrame:
    """Stage output -> one metrics row per partition."""
    run = df.sparkSession.sql(
        "SELECT * FROM VALUES (CAST(:wall_ms AS BIGINT), CAST(:snapshot_id AS BIGINT))"
        " AS run(wall_ms, snapshot_id)",
        args={"wall_ms": wall_ms, "snapshot_id": snapshot_id},
    )
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .crossJoin(run)
        .select(
            F.lit(stage).alias("stage"),
            F.col("partition_id"),
            F.col("rows_out"),
            F.lit(in_sha).alias("input_sha"),
            F.col("wall_ms"),
            F.col("snapshot_id"),
        )
    )
