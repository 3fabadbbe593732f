"""SparkSession factory with scale-oriented defaults.

The defaults here are the ones we would ship to a 1000-executor cluster:
AQE on (runtime coalescing + skew-join splitting), broadcast threshold
sized for the polygon dimension layers, Arrow enabled for every
pandas-UDF exchange. On the sandbox we run ``local[N]`` but nothing in
the engine assumes single-JVM execution.

Python workers fork from the engine's daemon, ``eodal_spark.pydaemon``
(``spark.python.daemon.module``; ``extra_conf`` can name another).
Each Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On Python 3.10 to 3.12.1
that makes each of a worker's 16 zip importers re-read the whole
directory of ``pyspark.zip``, the py4j zip or the spark-core jar on the
worker path (3.13 only drops the cache): ~0.23 s of CPU per task before
the UDF runs, on every mapInPandas, pandas-UDF and RDD-backed task.
The engine daemon re-reads an archive only when its stat changed.
Measured on a 4-core VM (Python 3.11.7, Spark 4.1.2, ``local[4]``), a
warm 4-task mapInPandas job over 40k ints: 1.05 → 0.18 s of
Python-worker CPU and 0.7 → 0.3 s wall; ``perfbench/run.py --workload
ingest_query --seconds 5 --trace 0`` (10 alternating pairs): op_cpu_s
median 4.44 → 3.17 s.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32
# the directory holding the ``eodal_spark`` package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "eodal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting — the
        # first line of defense for city-hotspot cell skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Polygon layers are small dimensions — let Spark broadcast them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Every python exchange is Arrow-batched; no per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # Bounded probes (limit(n).collect()) cover all partitions of a
        # small layer in executeTake's FIRST round instead of scaling up
        # 1→4→16… one job per round.  Per-partition rows stay capped by
        # LocalLimit, so a huge layer still can't flood the driver.
        .config("spark.sql.limit.initialNumPartitions", "64")
        .config("spark.ui.enabled", "false")
        # Python workers fork from the engine daemon, which stops every
        # task re-reading pyspark.zip (see eodal_spark/pydaemon.py); the
        # package's directory is on the workers' path, so the daemon
        # starts whatever directory the driver runs in
        .config("spark.python.daemon.module", "eodal_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Driver rows (tuples in ``schema`` field order) as a relation —
    the engine's one way to turn a driver-side list into a DataFrame.

    The rows go to the JVM as one ``pyarrow.Table``, so the plan leaf is
    a ``LocalRelation``: actions over it read the rows from the plan
    (no job, no Python worker), and Catalyst knows its exact size.
    ``createDataFrame(list)`` gives an RDD scan instead, which reruns a
    Python worker on every job above it and reports no size.  The Arrow
    table route holds whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set, and integer
    columns keep their NULLs (a pandas frame would turn them to NaN)."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
