"""Production-shaped driver: the full ingest pipeline with snapshot
checkpoints, stage-level resume and per-partition lineage metrics.

    spark-submit --py-files eodal_spark.zip scripts/run_pipeline.py \
        [warehouse_dir] [n_pages]

Stages (each one a catalog snapshot; re-running skips completed
stages — kill it mid-run and it resumes):

    pages      raw synthetic pages (prod: the Iceberg pages table)
    geocoded   html→text→lat/lon→cell_id, written sorted by cell_id
               (spatial locality ⇒ min/max pruning)
    joined     broadcast spatial join to the polygon layer
    mosaic     tile assignment + first-wins dedup

Every stage appends (stage, partition_id, rows) to the metrics table
and a lineage record to lineage.jsonl (north-rule requirement).
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from eodal_spark.mapper import headline_stages
from eodal_spark.plans import metrics as M
from eodal_spark.session import get_spark
from eodal_spark.sources import pages as P
from eodal_spark.sources.catalog import ResumablePipeline, SnapshotCatalog

_GEOCODED_COLS = (
    "url", "warc_ts", "lang", "cell_id", "lat_centi", "lon_centi", "lat", "lon",
)


def run(spark, warehouse: str, n_pages: int) -> dict:
    cat = SnapshotCatalog(warehouse)
    pipe = ResumablePipeline(cat, spark)
    metrics_dir = os.path.join(warehouse, "_metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    lineage = []

    def stage(name, fn, sort_by=()):
        df = pipe.stage(name, fn, sort_by=sort_by)
        if name in pipe.executed:  # metrics only for fresh work
            lineage.append(M.append_stage_metrics(df, name, metrics_dir))
        return df

    df = stage("pages", lambda: P.synth_pages(spark, n_pages))
    polys = E._polys_spark(spark)
    for name, fn, sort_by in headline_stages(polys, E.RES, E.JOIN_RES, E.TILE_RES):
        if name == "geocoded":
            # the snapshot keeps the keys and coordinates, not the
            # html/text payload
            fn = lambda pages, geocode=fn: geocode(pages).select(*_GEOCODED_COLS)
        df = stage(name, partial(fn, df), sort_by)
    return {
        "executed": pipe.executed,
        "skipped": pipe.skipped,
        "mosaic_rows": df.count(),
        "lineage": lineage,
    }


if __name__ == "__main__":
    warehouse = sys.argv[1] if len(sys.argv) > 1 else "/tmp/eodal_spark_warehouse"
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark("eodal_spark_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, warehouse, n_pages)))
    spark.stop()
