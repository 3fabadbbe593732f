"""Tiling + mosaic dedup invariants — lifted from the reference's
grid-alignment suite (`tests/mapper/test_grid_alignment.py:64-126`) and
mosaic precedence (`eodal/core/algorithms.py:133-142`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import tiling
from eodal_spark.sources import pages as P

RES, TILE_RES = 12, 5


@pytest.fixture(scope="module")
def tiled(spark, pages_small):
    geo = P.geocode(pages_small, RES)
    return tiling.assign_tiles(geo, RES, TILE_RES).cache()


def test_tile_alignment_invariant(tiled):
    """Every page's tile_cell is the unique ancestor of its cell —
    all rows in a tile share one grid (≡ identical pixres/ulx/uly
    across scenes after alignment)."""
    from eodal_spark import grid

    bad = tiled.filter(
        grid.cell_parent("cell_id", RES, TILE_RES) != F.col("tile_cell")
    ).count()
    assert bad == 0


def test_tile_assignment_matches_duckdb(spark, tiled):
    import duckdb

    from eodal_spark import grid as G

    n = 10_000
    bucket = tiling.DEFAULT_BUCKET_SECONDS
    cell = G.sql_cell_encode_centi("lon_centi", "lat_centi", TILE_RES, "duckdb")
    expect = duckdb.sql(
        f"SELECT url, {cell} AS tile_cell, ts_sec // {bucket} AS ts_bucket "
        f"FROM {P.sql_pages_subquery(n, 'duckdb')} ORDER BY url"
    ).df()
    got = (
        tiled.select("url", "tile_cell", "ts_bucket")
        .orderBy("url")
        .toPandas()
    )
    assert (got["url"] == expect["url"]).all()
    assert (got["tile_cell"].to_numpy() == expect["tile_cell"].to_numpy()).all()
    assert (got["ts_bucket"].to_numpy() == expect["ts_bucket"].to_numpy()).all()


def test_mosaic_dedup_first_wins(tiled):
    deduped = tiling.mosaic_dedup(tiled).cache()
    # exactly one row per key
    assert (
        deduped.groupBy("cell_id", "ts_bucket").count().filter("count > 1").count()
        == 0
    )
    # the survivor is the (warc_ts, url) minimum of its group
    mins = tiled.groupBy("cell_id", "ts_bucket").agg(
        F.min(F.struct("warc_ts", "url")).alias("m")
    )
    joined = deduped.join(mins, ["cell_id", "ts_bucket"])
    bad = joined.filter(
        (F.col("warc_ts") != F.col("m.warc_ts")) | (F.col("url") != F.col("m.url"))
    ).count()
    assert bad == 0
    # deterministic under different parallelism
    re = tiling.mosaic_dedup(tiled.repartition(13)).select("url")
    assert re.exceptAll(deduped.select("url")).count() == 0
    # a map payload cannot be ordered, so it takes the row_number
    # window: same survivors row for row, map riding along
    mapped = tiled.withColumn("tags", F.create_map(F.lit("url"), F.col("url")))
    win = tiling.mosaic_dedup(mapped)
    cols = sorted(deduped.columns)
    assert win.select(*cols).exceptAll(deduped.select(*cols)).count() == 0
    assert win.count() == deduped.count()
    assert win.filter(F.col("tags")["url"] != F.col("url")).count() == 0


def test_duplicate_split_counts(tiled):
    split = tiling.duplicate_split(tiled)
    total = split.count()
    assert total == tiled.count()
    uniq = split.filter("n_dup = 1").count()
    dups = split.filter("n_dup > 1").count()
    assert uniq + dups == total and dups > 0  # hotspots force collisions


def test_adaptive_split_balances_hot_cells(spark, pages_small):
    geo = P.geocode(pages_small, 6)  # coarse res → strong hotspots
    out = tiling.adaptive_split_hot_cells(geo, 6, 9, threshold=200).cache()
    hist = out.groupBy("cell_id_adaptive").count()
    # every *unsplit* hot cell would exceed threshold; after splitting at
    # res 9 (64 children), max per adaptive cell must drop well below the
    # hottest original cell
    orig_max = geo.groupBy("cell_id").count().agg(F.max("count")).first()[0]
    new_max = hist.agg(F.max("count")).first()[0]
    assert new_max < orig_max
    assert out.count() == geo.count()  # row preservation
