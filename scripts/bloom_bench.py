"""Bloom point-lookup economics at bench scale: a 10M-row (url,
cell_id) table committed to a SnapshotCatalog cell-sorted (url is NOT
the sort key — the adversarial case for min/max stats), then:

* commit tax: write with vs without ``bloom_cols=("url",)``;
* point lookup: full read + ``url = v`` filter (opens every file) vs
  ``scan(eq=...)`` (bloom keeps ~1 file for present keys, 0 for absent);
* file-skip counts for present and absent probes.

Writes the results between BLOOM markers in BENCH/BASELINE.md.
Run: ``python scripts/bloom_bench.py [rows]``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import bench as B
from _md import splice_block
from eodal_spark.session import get_spark
from eodal_spark.sources import pages as P
from eodal_spark.sources.catalog import SnapshotCatalog

N_FILES = 64
BITS = 1 << 21  # ~13 bits/key at 156k rows/file → fpr < 1%
K = 7
REPS = 3


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cpus = B.CPUS
    spark = get_spark(
        "bloom_bench", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench_dir = os.environ.get(
        "SPARK_GRAFT_BENCH_DIR", "/tmp/eodal_spark_bench"
    )
    pages_path = B.materialize_pages(
        spark, rows, os.path.join(bench_dir, f"pages_{rows}")
    )
    src = P.geocode(spark.read.parquet(pages_path), 12).select(
        "url", "cell_id"
    )

    root = os.path.join(bench_dir, "bloom_cat")
    shutil.rmtree(root, ignore_errors=True)
    cat = SnapshotCatalog(root)

    t0 = time.time()
    cat.write(src, "plain", sort_by=("cell_id",), n_files=N_FILES)
    plain_write = time.time() - t0
    t0 = time.time()
    cat.write(
        src, "bloomed", sort_by=("cell_id",), n_files=N_FILES,
        bloom_cols=("url",), bloom_bits=BITS, bloom_k=K,
    )
    bloom_write = time.time() - t0
    side = os.path.join(root, "bloomed")
    snap = cat.current_snapshot("bloomed")
    dname = snap["segments"][0]["dirs"][0]
    side_bytes = sum(
        os.path.getsize(os.path.join(side, dname + "-bloom", f))
        for f in os.listdir(os.path.join(side, dname + "-bloom"))
        if f.endswith(".parquet")
    )

    # probe urls: one present (read deterministically), one absent
    present = (
        cat.read(spark, "bloomed")
        .filter(F.col("url").endswith("/p/123456"))
        .first()["url"]
    )
    absent = "https://absent.example/p/1"

    files = cat._snap_files(snap)
    kept_present = cat._bloom_prune(
        spark, "bloomed", snap, files, {"url": present}, lambda f, c: c
    )
    kept_absent = cat._bloom_prune(
        spark, "bloomed", snap, files, {"url": absent}, lambda f, c: c
    )

    def best(fn):
        b = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            fn()
            b = min(b, time.time() - t0)
        return b

    full = best(
        lambda: cat.read(spark, "bloomed")
        .filter(F.col("url") == present)
        .write.format("noop").mode("overwrite").save()
    )
    pruned = best(
        lambda: cat.scan(spark, "bloomed", eq={"url": present})
        .write.format("noop").mode("overwrite").save()
    )
    pruned_abs = best(
        lambda: cat.scan(spark, "bloomed", eq={"url": absent})
        .write.format("noop").mode("overwrite").save()
    )
    n_match = cat.scan(spark, "bloomed", eq={"url": present}).count()
    assert n_match >= 1 and cat.scan(
        spark, "bloomed", eq={"url": absent}
    ).count() == 0

    block = f"""<!-- BLOOM:BEGIN -->
## Bloom point-lookup file skipping at bench scale (local[{cpus}])

{rows:,} (url, cell_id) rows, {N_FILES} files cell-sorted (url unsorted
— min/max stats CANNOT prune url probes), blooms at {BITS:,} bits / k={K}
(~{BITS/(rows/N_FILES):.0f} bits/key), best-of-{REPS}.

| metric | value |
|---|---|
| commit without blooms | {plain_write:.1f} s |
| commit with blooms (tax = one native job over new files) | {bloom_write:.1f} s |
| bloom sidecar size | {side_bytes/1e6:.1f} MB ({side_bytes/rows:.1f} B/row) |
| point lookup, full read + filter | {full:.2f} s ({N_FILES}/{N_FILES} files) |
| point lookup, scan(eq=) present key | {pruned:.2f} s ({len(kept_present)}/{N_FILES} files) |
| point lookup, scan(eq=) absent key | {pruned_abs:.2f} s ({len(kept_absent)}/{N_FILES} files) |

The win is the FILES-TOUCHED column, not local wall-clock: at 10M warm
rows a full scan is already sub-second, and the probe pays a fixed
driver cost (~one constant-folded position job — cached per key — plus
one ≤ k-words-per-file pushdown read of the sidecar; no data file is
opened for a pruned file).  That fixed cost is scale-independent while
the full read grows with the table: at 100 TB / 100k files a present
key opens ~1 file instead of 100k, the driver loop is O(files) dict
lookups against one pushdown sidecar read, and the bloom tax stays
O(new data) per commit, amortized over every subsequent point lookup.
<!-- BLOOM:END -->"""
    splice_block(os.path.join(REPO, "BENCH", "BASELINE.md"), "BLOOM", block)
    print(block)
    spark.stop()


if __name__ == "__main__":
    main()
