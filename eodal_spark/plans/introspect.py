"""Facts read from a DataFrame's plan before it runs, for the engine's
adaptive choices: Catalyst's size estimate, whether ``cell_id`` is a
stored column, and the spread of a small-file input to Spark's default
parallelism.  None of them runs a Spark job.

The plan reads walk private py4j ``queryExecution`` internals — correct
on Spark 4.x but brittle across upgrades — so this module is their one
home, and every reflection failure degrades to the answer that sends the
caller down its conservative branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# relations with NO stats (ExistingRDD / createDataFrame) report the
# defaultSizeInBytes sentinel, Long.MaxValue: "unknown", not "huge"
_NO_STATS_BYTES = 1 << 60


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimate of ``df``'s size in bytes, or None when there
    is no usable estimate (reflection failed, or the ``Long.MaxValue``
    no-stats sentinel)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return size if size < _NO_STATS_BYTES else None


def cell_id_is_stored(df: DataFrame) -> bool:
    """True iff ``cell_id`` is a physical column of a leaf relation
    (parquet/Iceberg scan), not an expression computed above it.

    Decides whether knn's ring rounds add their disk-range scan
    predicate: on a stored column the OR-of-BETWEEN pushes to row-group
    stats and a round reads a sliver; on a COMPUTED column (e.g. straight
    out of `pages.geocode`) predicate pushdown would substitute the full
    deriving expression into every comparison — measured 5-10× slower —
    while the broadcast hash join already evaluates it exactly once per
    row, so the prefilter is pure loss there.  Reflection failure → False
    (skip the prefilter: the join alone is still exact)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        for i in range(leaves.length()):
            out = leaves.apply(i).output()
            for j in range(out.length()):
                if out.apply(j).name() == "cell_id":
                    return True
        return False
    except Exception:
        return False


def spread_to_parallelism(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a small-file input on ``key`` up to Spark's
    default parallelism before compute-dense per-row work;
    ``df`` itself when it already has that many partitions.

    A compact parquet table scans as 1-2 input splits (50k documents ≈
    15 MB, 20k × 64-double embeddings ≈ 10 MB), so a signature UDF,
    regexp battery or distance scan downstream of it runs on 1-2 cores
    no matter how many exist — measured 2/32 cores busy on the sf1.0
    documents table (parallelism must come from the work, not the file
    layout).  Hash partitioning on an id is deterministic under
    task retry, unlike round-robin.  At scale it is a no-op: a 100 TB
    corpus already has ≥ defaultParallelism partitions and never pays
    the extra exchange.

    Filter-pushdown hazard: Catalyst pushes deterministic filters below
    a bare repartition, so a query that filters on columns computed
    above the spread inlines the whole expression battery into the
    filter and evaluates it on the ONE pre-spread split (measured 6 s vs
    1 s for docs_quality_filter).  Such callers pin evaluation above the
    spread with a lazy ``localCheckpoint(eager=False)`` when the result
    ``is not`` the input (`__spark_entry__._docs_spread`)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))
