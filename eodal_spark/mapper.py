"""High-level Mapper facade — `eodal/mapper/mapper.py` parity.

The reference's flagship pipeline is ``MapperConfigs`` →
``Mapper.query_scenes()`` (metadata/catalog phase) →
``Mapper.load_scenes()`` (pixel phase) (`mapper.py:81-136`, ``:346-401``,
``:833-909``).  This facade re-expresses that two-phase flow over
DataFrames:

* ``query_scenes`` filters a *tiles catalog* (a small dimension of tile
  footprints + attributes) by feature bbox ∩ time range ∩ metadata
  filters — all Catalyst predicates, so it's the same manifest-pruning
  shape Iceberg gives, not a REST round trip;
* ``load_scenes`` runs the pixel phase: geocode the pages table, join
  to the feature (polygon → spatial join; point → cell sample), tag
  tile + time bucket, mosaic-dedup duplicates (first-wins), and return
  the "SceneCollection" as a DataFrame time-partitioned by ts_bucket.

Eager loops in the reference (per-scene read → mosaic → align,
mapper.py:471-792) collapse into one lazy DAG; grid alignment is free
because every row lives on the one global grid.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodal_spark import geometry
from eodal_spark.operators import spatial_join as SJ
from eodal_spark.operators import tiling as TIL
from eodal_spark.operators import zonal as Z
from eodal_spark.operators.filters import Filter, apply_filters
from eodal_spark.sources import pages as P

# footprint-count cutoff between the OR-of-bbox literal predicate and
# the broadcast left-semi range join (see load_scenes)
_MAX_OR_FOOTPRINTS = 64


def headline_stages(
    polys: DataFrame, res: int, join_res: int, tile_res: int
) -> list[tuple[str, Callable[[DataFrame], DataFrame], tuple[str, ...]]]:
    """The headline batch job — pages → geocode → centroid spatial join
    to ``polys`` → tile assignment → first-wins mosaic dedup — as ordered
    ``(name, fn(prev) -> DataFrame, sort_by)`` stages.  Folding the
    ``fn``s over a pages frame builds the whole job; ``sort_by`` is the
    clustering a persisted snapshot of the stage wants (cell_id locality
    for min/max pruning, tile_cell for per-tile reads).

    Mosaic dedup runs at the page cell resolution (fine cells ≡ pixels
    in the reference's first-wins merge) — that is both the correct
    semantics and what keeps the dedup key space wide enough that city
    hotspots don't collapse into a few giant partitions."""
    return [
        ("geocoded", lambda pages: P.geocode(pages, res), ("cell_id",)),
        (
            "joined",
            lambda geo: SJ.spatial_join(
                geo, polys, join_res, rule="centroid",
                page_cols=("url", "warc_ts", "cell_id"), page_res=res,
            ),
            (),
        ),
        (
            "mosaic",
            lambda joined: TIL.mosaic_dedup(
                TIL.assign_tiles(joined, res, tile_res),
                keys=("cell_id", "ts_bucket"),
            ),
            ("tile_cell",),
        ),
    ]


@dataclass
class MapperConfigs:
    """≡ eodal.mapper.mapper.MapperConfigs (mapper.py:81-136):
    collection + feature + time window + metadata filters, plus the
    grid resolutions that replace the reference's pixres."""

    collection: str
    # polygon ring [(lon, lat), ...], ring list [exterior, hole, ...],
    # parts structure, WKT string, or WKB bytes (geometry._as_parts)
    feature: object
    time_start: str
    time_end: str
    metadata_filters: list[Filter] = field(default_factory=list)
    res: int = 12
    join_res: int = 8
    tile_res: int = 5


class Mapper:
    """Two-phase query/load — same contract as the reference's Mapper
    (query before load enforced, ≡ mapper.py:317-344 guards)."""

    def __init__(self, configs: MapperConfigs, pages: DataFrame, tiles: DataFrame | None = None):
        self.configs = configs
        self._pages = pages
        self._tiles = tiles
        self.metadata: DataFrame | None = None
        self.data: DataFrame | None = None

    # -- phase 1: metadata ------------------------------------------------
    def query_scenes(self) -> DataFrame:
        """Catalog phase (≡ mapper.py:346-401): bbox ∩ time ∩ filters
        over the tiles dimension. Returns + stores the metadata frame,
        ordered by sensing time (≡ querying.py:122)."""
        if self._tiles is None:
            raise ValueError("no tiles catalog attached")
        parts = geometry._as_parts(self.configs.feature)
        xs = [p[0] for part in parts for ring in part for p in ring]
        ys = [p[1] for part in parts for ring in part for p in ring]
        md = self._tiles.filter(
            (F.col("xmax") >= min(xs))
            & (F.col("xmin") <= max(xs))
            & (F.col("ymax") >= min(ys))
            & (F.col("ymin") <= max(ys))
            & (F.col("sensing_time") >= F.lit(self.configs.time_start))
            & (F.col("sensing_time") <= F.lit(self.configs.time_end))
        )
        md = apply_filters(md, self.configs.metadata_filters)
        self.metadata = md.orderBy("sensing_time")
        return self.metadata

    # -- phase 2: pixels ---------------------------------------------------
    def load_scenes(self) -> DataFrame:
        """Pixel phase (≡ mapper.py:833-909 + _load_scenes_collection
        :471-792): geocode → restrict to the QUERIED scenes' footprints
        → clip to feature → tile tag → first-wins mosaic dedup.  One
        lazy DAG; the per-scene loop is gone.

        Query-before-load is enforced when a tiles catalog is attached
        (≡ the reference's guards, mapper.py:317-344): the catalog
        phase decides WHICH scenes exist, so metadata filters genuinely
        restrict the loaded pixels — pages outside every queried
        scene's footprint are excluded."""
        c = self.configs
        if self._tiles is not None and self.metadata is None:
            raise ValueError(
                "call query_scenes() before load_scenes() — the catalog "
                "phase selects the scenes the pixel phase loads"
            )
        geo = P.geocode(
            self._pages.filter(
                (F.col("warc_ts") >= F.lit(c.time_start))
                & (F.col("warc_ts") <= F.lit(c.time_end))
            ),
            c.res,
        )
        if self.metadata is not None:
            # footprints of the queried scenes restrict the pixel load.
            # Few boxes → OR-of-bbox literal predicate (evaluated
            # map-side inside the scan filter).  Many boxes → the same
            # semantics as a broadcast LEFT-SEMI range join: a catalog
            # query returning thousands of scenes must not grow an
            # unbounded Catalyst expression tree (analysis/codegen blow
            # up long before the data does).  Left-semi keeps pages
            # matching several footprints unduplicated, and the build
            # side is the tiny catalog result.
            boxes_df = self.metadata.select("xmin", "ymin", "xmax", "ymax")
            boxes = boxes_df.limit(_MAX_OR_FOOTPRINTS + 1).collect()
            if len(boxes) <= _MAX_OR_FOOTPRINTS:
                pred = F.lit(False)
                for b in boxes:
                    pred = pred | (
                        (F.col("lon") >= b["xmin"])
                        & (F.col("lon") <= b["xmax"])
                        & (F.col("lat") >= b["ymin"])
                        & (F.col("lat") <= b["ymax"])
                    )
                geo = geo.filter(pred)
            else:
                cond = (
                    (F.col("lon") >= F.col("xmin"))
                    & (F.col("lon") <= F.col("xmax"))
                    & (F.col("lat") >= F.col("ymin"))
                    & (F.col("lat") <= F.col("ymax"))
                )
                geo = geo.join(F.broadcast(boxes_df), cond, "left_semi")
        polys = geometry.polygons_df(
            geo.sparkSession, [(1, c.feature)]
        )
        clipped = SJ.spatial_join(
            geo, polys, c.join_res, rule="centroid",
            page_cols=("url", "warc_ts", "cell_id", "text", "lang"),
            page_res=c.res,
        )
        tiled = TIL.assign_tiles(clipped, c.res, c.tile_res)
        self.data = TIL.mosaic_dedup(tiled)
        return self.data

    # -- extraction shortcuts ----------------------------------------------
    def band_summaries(self, value_col: str = "n_chars") -> DataFrame:
        """≡ RasterCollection.band_summaries over the loaded scenes
        (`eodal/core/raster.py:1309-1357`)."""
        if self.data is None:
            raise ValueError("call load_scenes() first")  # ≡ mapper guard
        df = self.data.withColumn("n_chars", F.length("text"))
        return Z.zonal_stats(df.withColumn("poly_id", F.lit(1)), value_col)

    def get_feature_timeseries(self, reindex: bool = False) -> DataFrame:
        """≡ SceneCollection.get_feature_timeseries
        (`eodal/core/scene.py:469-539`) — one groupBy, not a loop.
        ``reindex=True`` (≡ reindex_dataframe, scene.py:532-539
        generalized to a regular time axis) completes the result to a
        dense bucket spine: gap buckets appear with n=0 and a
        forward-filled avg_chars."""
        if self.data is None:
            raise ValueError("call load_scenes() first")
        out = (
            self.data.groupBy("ts_bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.length("text")).alias("avg_chars"),
            )
        )
        if reindex:
            from eodal_spark.operators import timeseries as TS

            out = TS.reindex_buckets(
                out.withColumn("_k", F.lit(1)), "_k", "ts_bucket",
                fill_zero=("n",), fill_forward=("avg_chars",),
            ).drop("_k")
        return out.orderBy("ts_bucket")
