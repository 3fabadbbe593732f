"""Extra benchmarks (guide §1.4 noop isolation) — NOT part of the
frozen driver bench.  Per-stage timings for the expensive operators so
optimizations are attributed to the right stage.

Usage: SPARK_GRAFT_SF_DIR=... python bench_extra.py [section ...]
Sections: minhash knn asof headline suite
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as E
from eodal_spark.operators import dedup as D
from eodal_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def timed(label: str, fn, reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"  {label}: {best:.3f}s")
    return best


def bench_minhash(spark) -> None:
    print("== minhash stages (sf dir:", SF_DIR, ")")
    docs_raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = docs_raw.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
    spark.sparkContext.setJobDescription("minhash: signatures only")
    timed("signatures", lambda: noop(D.minhash_signatures(docs, "t", "id", 64, 5)))
    sigs = D.minhash_signatures(docs, "t", "id", 64, 5)
    banded = D._banded_sigs(sigs, 16, 4)
    spark.sparkContext.setJobDescription("minhash: banded explode")
    timed("banded", lambda: noop(banded))
    est_min = max(0, 500 - 150) * 64
    spark.sparkContext.setJobDescription("minhash: bucket pairs + est")
    cand = D._bucket_pairs_est(banded, 64, est_min)
    timed("bucket_pairs_est", lambda: noop(cand))
    spark.sparkContext.setJobDescription("minhash: core (no collapse)")
    universe = D._shingle_universe(docs, 5)
    timed(
        "pairs_core",
        lambda: noop(D._minhash_pairs_core(docs, 64, 16, 500, 5, universe)),
    )
    spark.sparkContext.setJobDescription("minhash: full (collapse)")
    timed(
        "full_minhash_dedup",
        lambda: noop(D.minhash_dedup(docs_raw, threshold_milli=500)),
    )
    spark.sparkContext.setJobDescription(None)


def bench_knn(spark) -> None:
    print("== knn")
    qs = E.queries()
    timed("knn_query", lambda: noop(qs["knn"](spark, SF_DIR)), reps=3)


def bench_asof(spark) -> None:
    print("== asof")
    qs = E.queries()
    timed("asof_join", lambda: noop(qs["asof_join"](spark, SF_DIR)), reps=3)


def bench_suite(spark, names=None) -> None:
    qs = E.queries()
    names = names or [
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "events_sessions", "asof_join", "docs_exact_dedup",
        "docs_minhash_pairs", "emb_l2_topk", "spatial_join_exact",
        "spatial_join_holes", "spatial_join_buffered", "knn", "mosaic_dedup",
    ]
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        out[name] = round(timed(name, lambda: noop(qs[name](spark, SF_DIR))), 3)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))


def bench_headline_stages(spark) -> None:
    """noop-isolated prefixes of the headline pipeline: the scan, the
    text extraction, then each `headline_stages` stage."""
    from eodal_spark.mapper import headline_stages
    from eodal_spark.sources import pages as P

    path = "/tmp/eodal_spark_bench/pages_40000000"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        print("materialize pages first via bench.py")
        return
    pages = spark.read.parquet(path)
    spark.sparkContext.setJobDescription("headline: scan only")
    timed("scan", lambda: noop(pages.select("html")))
    spark.sparkContext.setJobDescription("headline: +extract")
    timed("extract", lambda: noop(pages.select(P.extract_text(F.col("html")).alias("t"))))
    df = pages
    polys = E._polys_spark(spark)
    for name, fn, _ in headline_stages(polys, E.RES, E.JOIN_RES, E.TILE_RES):
        df = fn(df)
        spark.sparkContext.setJobDescription(f"headline: +{name}")
        timed(name, lambda df=df: noop(df))
    spark.sparkContext.setJobDescription(None)


def main() -> None:
    sections = sys.argv[1:] or ["minhash"]
    spark = get_spark(
        "bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS * 2, 32),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for s in sections:
        if s == "headline":
            bench_headline_stages(spark)
        elif s == "minhash":
            bench_minhash(spark)
        elif s == "knn":
            bench_knn(spark)
        elif s == "asof":
            bench_asof(spark)
        elif s == "suite":
            bench_suite(spark)
        elif s.startswith("q:"):
            bench_suite(spark, s[2:].split(","))
    spark.stop()


if __name__ == "__main__":
    main()
