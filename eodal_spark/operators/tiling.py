"""Tile assignment + mosaic dedup — the Mapper's mosaicking pipeline.

The reference groups scenes by (tile, rounded timestamp) and merges
overlapping tiles with first-wins pixel precedence
(`eodal/mapper/mapper.py:554-667`; `eodal/core/algorithms.py:64-225`,
merge :133-142).  Here a "tile" is (coarse cell, time bucket); the
first-wins precedence becomes a per-key minimum over a **total**
ordering key (ts, then url) — unlike pandas' incidental
``keep="first"`` (mapper.py:647-649), this is deterministic under any
shuffle/parallelism (SURVEY.md §7.3).

All assignment math is exact integer arithmetic (dialect-portable), so
tile ids are bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from eodal_spark import grid

DEFAULT_BUCKET_SECONDS = 7 * 24 * 3600  # weekly mosaics


def assign_tiles(
    pages_geo: DataFrame,
    res: int,
    tile_res: int,
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Add ``tile_cell`` (coarse cell id), ``ts_bucket`` (epoch-seconds
    div bucket) and a human-readable ``tile_id`` string.

    ≡ the reference's scene→(tile_id, rounded sensing_time) grouping
    (`mapper.py:554-570`). Pure codegen arithmetic; at scale this column
    is also the recommended write partition/sort key (spatial locality →
    parquet min/max pruning)."""
    df = pages_geo.withColumn(
        "tile_cell", grid.cell_parent("cell_id", res, tile_res)
    ).withColumn(
        "ts_bucket",
        # floor division (not double-divide + truncating cast): pre-epoch
        # timestamps must bucket like the oracle's `//` — trunc would
        # collapse the two buckets around 1970 into one
        F.floor(
            F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)
        ).cast("long"),
    )
    return df.withColumn(
        "tile_id",
        F.concat_ws(
            "/",
            F.lit(f"r{tile_res}"),
            grid.cell_x_of("tile_cell").cast("string"),
            grid.cell_y_of("tile_cell").cast("string"),
            F.col("ts_bucket").cast("string"),
        ),
    )


def _orderable(dt: T.DataType) -> bool:
    """False when ``dt`` holds a map anywhere: Spark cannot order it,
    so ``min(struct(…))`` over it fails analysis
    (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def mosaic_dedup(
    tiled: DataFrame,
    keys: tuple[str, ...] = ("cell_id", "ts_bucket"),
    order: tuple[str, ...] = ("warc_ts", "url"),
) -> DataFrame:
    """Keep exactly one page per (cell, time-bucket) — first-wins by
    (ts, url) total order.  ≡ `rasterio.merge` first-wins precedence
    (`eodal/core/algorithms.py:133-142`) and the duplicate-timestamp
    dedup (`mapper.py:565-570`, :647-649).

    ``min(struct(order…, payload…))`` per key: Spark's partial
    aggregation combines map-side, so the shuffle carries at most one
    candidate row per (key, map partition) instead of every row.  At
    10^12 rows with duplicate-heavy hotspots this is the difference
    between shuffling the corpus and shuffling the distinct keys.  A
    payload that cannot be ordered (a map anywhere in a column's type)
    takes the classic ``row_number() = 1`` window instead.

    Both are deterministic under any parallelism: the ``order`` prefix
    is a total order (ties broken by url)."""
    payload = [c for c in tiled.columns if c not in keys]
    if not all(_orderable(tiled.schema[c].dataType) for c in payload):
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
        rn = F.row_number().over(w)
        return tiled.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    ordered = [*order, *[c for c in payload if c not in order]]
    win = tiled.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_w")
    )
    return win.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload])


def duplicate_split(tiled: DataFrame, keys=("cell_id", "ts_bucket")) -> DataFrame:
    """Tag rows as mosaic members vs unique — ≡ the reference's
    duplicated-vs-unique timestamp split (`mapper.py:565-570`).
    Adds ``n_dup`` (count over the key window)."""
    w = Window.partitionBy(*keys)
    return tiled.withColumn("n_dup", F.count(F.lit(1)).over(w))


def tile_histogram(tiled: DataFrame) -> DataFrame:
    """Rows per tile — drives the adaptive cell-split policy (hot tiles
    re-encoded at finer resolution) and is the skew diagnostic the
    bench reports."""
    return tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cell_id").alias("n_cells"),
    )


def salted_repartition(
    df: DataFrame, key: str, salt_buckets: int, salt_col: str = "_salt"
) -> DataFrame:
    """Salted repartition for hot keys (north-rule skew handling).

    Adds ``pmod(hash(url-or-monotonic), S)`` and repartitions on
    (key, salt) so one hot key spreads over ``salt_buckets`` tasks.
    Aggregations then run partial-per-salt → final-per-key (two-level
    agg), which the caller composes:

        salted.groupBy(key, salt).agg(partial...)  # big shuffle, balanced
              .groupBy(key).agg(final...)          # tiny shuffle

    Deterministic: the salt derives from row content (url when present)
    — no Math.random, so retries/recomputations land identically."""
    src = F.col("url") if "url" in df.columns else F.monotonically_increasing_id()
    out = df.withColumn(salt_col, F.pmod(F.hash(src), F.lit(salt_buckets)))
    return out.repartition(F.col(key), F.col(salt_col))


def adaptive_split_hot_cells(
    pages_geo: DataFrame,
    res: int,
    finer_res: int,
    threshold: int,
) -> DataFrame:
    """Adaptive cell-splitting for skew (SURVEY.md §7.1 step 8).

    Cells whose row count exceeds ``threshold`` are re-encoded at
    ``finer_res`` (children); cold cells keep their id.  The histogram
    is a tiny aggregate (distinct cells ≪ rows) joined back broadcast.
    Adds ``cell_id_adaptive`` — a mixed-resolution cell id, usable as a
    balanced shuffle/write key."""
    hist = pages_geo.groupBy("cell_id").count()
    hot = hist.filter(F.col("count") > threshold).select(
        "cell_id", F.lit(True).alias("_hot")
    )
    df = pages_geo.join(F.broadcast(hot), "cell_id", "left")
    finer = grid.cell_encode("lon", "lat", finer_res)
    return df.withColumn(
        "cell_id_adaptive",
        F.when(F.col("_hot"), finer).otherwise(F.col("cell_id")),
    ).drop("_hot")
