"""Crawl-bucket → queryable spatial table, end to end:

1. archives land in a directory (written here with the WARC sink —
   per-record gzip members, the Common-Crawl layout);
2. `stream_warc` ingests them incrementally (file-stream checkpoint =
   exactly-once per archive), re-deriving text/geo from html bytes;
3. the geocoded pages are committed to a `SnapshotCatalog` snapshot,
   range-partitioned + sorted by cell_id with per-file min/max bounds
   in the manifest;
4. a bbox query runs through `catalog.scan` — manifest file pruning,
   then parquet row-group stats, then the residual filter.

    python examples/warc_to_catalog.py
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eodal_spark import grid
from eodal_spark.session import get_spark
from eodal_spark.sources import pages as P
from eodal_spark.sources import warc as W
from eodal_spark.sources.catalog import SnapshotCatalog
from eodal_spark.streaming.ingest import run_available_now

RES = 8

spark = get_spark("example_warc_to_catalog")
spark.sparkContext.setLogLevel("ERROR")

work = tempfile.mkdtemp(prefix="eodal_warc_example_")
land, ckpt, staged = (os.path.join(work, d) for d in ("landing", "ckpt", "staged"))

# -- 1. two crawl batches land as WARC archives -----------------------------
W.write_warc(P.synth_pages(spark, 5_000, partitions=4), land, prefix="b1-").collect()
W.write_warc(
    P.synth_pages(spark, 8_000, partitions=4).filter(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") >= 5_000
    ),
    land,
    prefix="b2-",
).collect()
print("archives landed:", sorted(os.listdir(land)))

# -- 2. incremental ingest (run again → zero new rows, checkpointed) --------
run_available_now(W.stream_warc(spark, land), ckpt, staged)
pages = spark.read.parquet(staged)
print("ingested records:", pages.count())

# -- 3. geocode + snapshot commit with manifest stats -----------------------
geo = P.geocode(
    pages.select("url", "warc_ts", "html"), RES
).select("url", "cell_id", "lat_centi", "lon_centi")
cat = SnapshotCatalog(os.path.join(work, "catalog"))
snap = cat.write(geo, "pages_geo", sort_by=("cell_id",), n_files=12)
print(
    "snapshot", snap["snapshot_id"], "rows", snap["row_count"],
    "files", sum(r["n_files"] for r in snap["segments"]),
)

# -- 4. pruned bbox query ---------------------------------------------------
# Zürich-ish box in centi-degrees → covering cells → cell_id ranges
import numpy as np

lon = np.arange(7.0, 10.0, 0.1)
lat = np.arange(45.0, 49.0, 0.1)
gx, gy = np.meshgrid(lon, lat)
cells = np.unique(grid.np_cell_encode(gx.ravel(), gy.ravel(), RES))
ranges = grid.cell_disk_ranges(cells, 0, RES)
hits = cat.scan(spark, "pages_geo", {"cell_id": ranges})
print("bbox hits:", hits.count(), "of", snap["row_count"])

spark.stop()
shutil.rmtree(work, ignore_errors=True)
