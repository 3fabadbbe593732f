"""Per-partition lineage + row-count metrics (north-rule requirement).

The reference logs through Python logging only
(`eodal/config/settings.py:98-130`).  The engine emits, for any stage,
a metrics DataFrame (stage, partition_id, rows) that the pipeline
appends to a metrics table — queryable lineage, the relational analogue
of a metrics Iceberg table.  The count is a real aggregation (map-side
partials), so it is exact under task retries; nothing collects the data
itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, rows) — one row per physical partition.
    A pure aggregation: map-side partials, tiny shuffle."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
        )
    )


def append_stage_metrics(df: DataFrame, stage: str, metrics_dir: str) -> dict:
    """Compute partition metrics for a stage and append them to the
    metrics table (parquet dir, Iceberg in production).  Returns a
    lineage record {stage, partitions, rows}."""
    # persist the (tiny) metrics frame: the write and the aggregate are
    # two actions, and without it each re-executes the stage's full
    # upstream plan
    m = partition_metrics(df, stage).persist()
    m.write.mode("append").parquet(os.path.join(metrics_dir, "partition_metrics"))
    agg = m.agg(F.count(F.lit(1)), F.sum("rows")).first()
    m.unpersist()
    record = {"stage": stage, "partitions": int(agg[0] or 0), "rows": int(agg[1] or 0)}
    with open(os.path.join(metrics_dir, "lineage.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return record


