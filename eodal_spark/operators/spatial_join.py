"""Broadcast spatial join: pages × polygon layer.

Re-expresses the reference's clip/mask read path — polygons reprojected
onto the raster grid, bbox-windowed read, out-of-geometry pixels masked
(`eodal/core/band.py:758-775`, ``:828-835``, ``:1197-1340``) and the
declared-but-unimplemented ``RasterCollection.join`` stub
(`eodal/core/raster.py:1594-1600`) — as a two-stage Spark join:

1. **coarse stage** — the polygon layer is exploded into covering cells
   (`geometry.polygon_cover_cells`) and *broadcast*; the pages side joins
   on ``cell_id`` with a plain equi-join (broadcast-hash, no shuffle of
   the big side);
2. **refine stage** (exact mode only) — rows in boundary cells get an
   exact point-in-polygon test, single-pass and fully native: convex
   rings use the Catalyst min-cross expression, concave / holed /
   multi-part geometries use even-odd crossing parity over all rings
   (`geometry.pip_even_odd_rings`, also Catalyst).  Rows in *full*
   cells (cell ⊆ polygon) skip refinement entirely.  No Python stage
   anywhere in the join.

Membership rules:

* ``rule="centroid"`` (default, pinned in FIXTURES.md §5): a page
  belongs to a polygon iff its **cell centroid** is inside —
  boundary-inclusive, the analogue of ``all_touched=True``
  (`band.py:832`).  With this rule the covering join is already exact:
  zero refinement work, one broadcast-hash join total.
* ``rule="exact"``: the page's own lon/lat must be inside the polygon.

At 100 TB the pages side never shuffles: the covering is a dimension of
at most |polys| × bbox-cells rows, broadcast to every executor, and the
refine predicate is evaluated map-side.  Skewed city cells therefore
skew only the *output*, not a shuffle — and AQE handles the downstream
aggregation skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodal_spark import geometry
from eodal_spark.plans.introspect import plan_size_bytes

# layers above this poly count fall back to the shuffle join: at a
# typical few hundred cover cells / ring vertices per polygon the
# exploded broadcast would cross the ~1 GB class where broadcast
# builds hurt more than a co-partitioned shuffle
BROADCAST_LAYER_MAX_POLYS = 1_000_000


def _layer_broadcasts(polys: DataFrame) -> bool:
    """Whether a polygon layer is small enough to broadcast.

    Broadcastability is about COVER SIZE, not where the cover is
    computed (`geometry.DRIVER_COVER_MAX_POLYS` governs the latter): a
    layer of 100k small polygons still broadcasts fine.  Decide from
    Catalyst's driver-side size estimate when it is conclusive — zero
    Spark jobs for the common small-AOI case, and exact on a layer built
    by `geometry.polygons_df` (a ``LocalRelation``).  ~1M typical
    polygons ≈ 200-300 MB raw; an estimate safely under that
    broadcasts, 100× over it cannot.  Only an inconclusive estimate (no
    stats, reflection drift) pays the bounded limit+count probe (no row
    transfer), capped so the exploded cover stays well under executor
    broadcast budgets."""
    size = plan_size_bytes(polys)
    if size is not None and size <= 256 << 20:
        return True
    if size is not None and (32 << 30) <= size:
        return False
    n = polys.select("poly_id").limit(BROADCAST_LAYER_MAX_POLYS + 1).count()
    return n <= BROADCAST_LAYER_MAX_POLYS


def spatial_join(
    pages_geo: DataFrame,
    polys: DataFrame,
    res: int,
    rule: str = "centroid",
    how: str = "inner",
    page_cols: tuple[str, ...] = ("url",),
    poly_cols: tuple[str, ...] = ("poly_id",),
    page_res: int | None = None,
    broadcast_layer: bool | None = None,
    precomputed_cover: DataFrame | None = None,
) -> DataFrame:
    """Join geocoded pages (must carry ``cell_id``, ``lon``, ``lat``)
    to the polygon layer. Returns page_cols + poly_cols (+ cell_id).

    ``res`` is the covering/join resolution; when the pages carry a
    finer ``cell_id`` (``page_res`` > res), the join key is derived via
    `grid.cell_parent` — a pure bit shift, so the scan stays pruned on
    the stored cell column.

    ``broadcast_layer``: small layers (the normal case — AOIs, admin
    boundaries) broadcast their cover/rings so the pages side never
    shuffles.  A HUGE layer (10⁸ parcel polygons) cannot broadcast:
    pass False (or let the bounded auto-probe decide) and the join
    becomes a shuffle join co-partitioned on the cell key — the
    correct big×big plan; bucket both sides on ``cell_id``
    (`catalog.write_bucketed`) to make repeats exchange-free.

    ``precomputed_cover``: reuse a materialized `polygon_cover_cells`
    relation (columns (poly_id, cell_id[, full]) at this ``res``/
    ``rule``) instead of recomputing it per query — write it bucketed
    on ``cell_id`` alongside bucketed pages and repeated big×big joins
    run with ZERO exchanges (bucket alignment survives the internal
    rename; plan-asserted in tests)."""
    from eodal_spark import grid

    if broadcast_layer is None:
        broadcast_layer = _layer_broadcasts(polys)
    # broadcast_layer=False is the caller asserting the layer is HUGE:
    # pin the shuffle strategy with a plan-local MERGE hint so a stale
    # or sampled size estimate can never flip the plan back to a doomed
    # broadcast build (sort-merge spills gracefully at 100 TB; bucketed
    # covers still plan exchange-free — bucketing satisfies SMJ's
    # distribution, hint or not)
    bc = F.broadcast if broadcast_layer else (lambda d: d.hint("merge"))

    if page_res is not None and page_res != res:
        pages_geo = pages_geo.withColumn(
            "_join_cell", grid.cell_parent("cell_id", page_res, res)
        )
    else:
        pages_geo = pages_geo.withColumn("_join_cell", F.col("cell_id"))

    # prune the big side BEFORE the join: only the join key, the refine
    # coordinates and the requested payload flow through (narrow rows ⇒
    # less codegen work and smaller exchanges at 100 TB)
    refine = ["lon", "lat"] if rule == "exact" else []
    pages_geo = pages_geo.select(*dict.fromkeys(["_join_cell", *refine, *page_cols]))

    # polygon attribute columns beyond poly_id attach via one extra
    # broadcast join on poly_id AFTER the spatial match (attributes
    # never ride along in the covering, which stays compact)
    attr_cols = [c for c in poly_cols if c != "poly_id"]

    def _attach_attrs(joined: DataFrame) -> DataFrame:
        if not attr_cols:
            return joined
        attrs = polys.select("poly_id", *attr_cols)
        return joined.join(bc(attrs), "poly_id", "left")

    if rule == "centroid":
        cover = (
            precomputed_cover
            if precomputed_cover is not None
            else geometry.polygon_cover_cells(polys, res, mode="centroid")
        )
        cover = cover.select("poly_id", F.col("cell_id").alias("_join_cell"))
        joined = _attach_attrs(pages_geo.join(bc(cover), "_join_cell", how))
        return joined.select(
            F.col("_join_cell").alias("join_cell"), *page_cols, *poly_cols
        )

    if rule != "exact":
        raise ValueError(rule)
    if how != "inner":
        raise NotImplementedError(
            "rule='exact' supports how='inner' only; for left semantics "
            "join the inner result back to the pages side on a page key"
        )

    # Single-pass refinement: ONE scan of the pages side, two broadcast
    # joins, one conditional filter — no unions (which would re-evaluate
    # the candidate join per branch).  The covering broadcast stays
    # COMPACT (poly_id, cell, full); the per-polygon ring arrays attach
    # through a second broadcast keyed on poly_id, so a polygon covering
    # 500k cells ships its vertices once, not 500k times.  Full cells
    # (cell ⊆ polygon) skip PIP; convex rings use the boundary-inclusive
    # min-cross expression; concave / holed / multi-part geometries use
    # even-odd parity over all rings.  Every branch is native Catalyst →
    # the whole refine stage is whole-stage codegen, zero Python.
    cover = (
        precomputed_cover
        if precomputed_cover is not None
        else geometry.polygon_cover_cells(polys, res, mode="bbox")
    )
    cover = cover.withColumnRenamed("cell_id", "_join_cell")
    cand = pages_geo.join(bc(cover), "_join_cell", "inner")
    ring = polys.select("poly_id", "xs", "ys", "rings_x", "rings_y", "is_convex")
    cand = cand.join(bc(ring), "poly_id")

    lon, lat = F.col("lon"), F.col("lat")
    keep = (
        F.col("full")
        | (
            F.col("is_convex")
            & geometry.pip_convex(lon, lat, F.col("xs"), F.col("ys"))
        )
        | (
            ~F.col("is_convex")
            & geometry.pip_even_odd_rings(
                lon, lat, F.col("rings_x"), F.col("rings_y")
            )
        )
    )
    out_cols = [F.col("_join_cell").alias("join_cell"), *page_cols, *poly_cols]
    return _attach_attrs(cand.filter(keep)).select(*out_cols)


def sample_points(
    points: DataFrame,
    pages_geo: DataFrame,
    res: int,
    value_cols: tuple[str, ...] = ("url",),
    how: str = "left",
    page_res: int | None = None,
) -> DataFrame:
    """Point sampling — ``Band.read_pixels`` / ``get_pixels``
    (`eodal/core/band.py:1087-1166`, ``:1398-1480``): for each query
    point, the pages in its grid cell.  The reference's per-row argmin
    loop (band.py:1460-1473) becomes one equi-join on ``cell_id``;
    points outside any populated cell yield NULLs (≡ nodata fill,
    band.py:1126-1129). ``points`` needs (id, lon, lat)."""
    from eodal_spark import grid

    pts = points.withColumn("_join_cell", grid.cell_encode("lon", "lat", res))
    pages_side = (
        pages_geo.withColumn(
            "_join_cell", grid.cell_parent("cell_id", page_res, res)
        )
        if page_res is not None and page_res != res
        else pages_geo.withColumn("_join_cell", F.col("cell_id"))
    )
    return pts.join(
        pages_side.select("_join_cell", *value_cols), "_join_cell", how
    ).drop("_join_cell")


def polygon_overlay(
    layer_a: DataFrame,
    layer_b: DataFrame,
    res: int,
    mode: str = "centroid",
) -> DataFrame:
    """Polygon × polygon overlay by shared cover cells — the
    vector-overlay analogue of the raster mosaicking path
    (`eodal/core/raster.py` clip + `band.py:1058-1072` rasterize
    composed twice): each layer rasterizes to its covering cells at
    ``res`` and the intersection measure of every (a, b) pair is the
    count of cells whose centroid lies in BOTH polygons.

    Output: ``(a_id, b_id, cells)`` — inner join, so only genuinely
    intersecting pairs appear; ``cells`` is the exact integer measure
    under the engine's pinned centroid membership rule (deterministic,
    oracle-checkable — a float intersection area would not be).

    Scale shape: each layer explodes to covers independently
    (O(bbox cells) per polygon, driver-side for small layers and
    Arrow-batched ``mapInPandas`` for large ones — see
    :func:`eodal_spark.geometry.polygon_cover_cells`); the pairing is
    one equi-join on ``cell_id`` (never all-pairs of polygons —
    disjoint pairs cost nothing), and the count is a
    map-side-combinable aggregate.  Two country-scale layers at
    10^6 polygons each join on the cell key like any other big×big
    spatial join; skewed mega-polygons are bounded by the cover's
    ``MAX_COVER_CELLS_PER_POLY`` rail."""
    ca = geometry.polygon_cover_cells(layer_a, res, mode).select(
        F.col("poly_id").alias("a_id"), "cell_id"
    )
    cb = geometry.polygon_cover_cells(layer_b, res, mode).select(
        F.col("poly_id").alias("b_id"), "cell_id"
    )
    return (
        ca.join(cb, "cell_id")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("cells"))
    )


def areal_interpolate(
    layer_a: DataFrame,
    values_a: DataFrame,
    layer_b: DataFrame,
    res: int,
    value_col: str = "value",
    mode: str = "centroid",
    scale: int = 1000,
) -> DataFrame:
    """Areal interpolation: transfer a per-polygon quantity from layer A
    onto layer B proportionally to intersection measure — the zonal
    re-aggregation the reference expresses as rasterize-then-reduce over
    a new zone layer (`eodal/core/band.py:1058-1072` rasterize +
    `band.py:1341-1435` reduce, composed).

    Each source polygon's ``value_col`` is split across the target
    polygons it intersects in proportion to shared cover cells, using
    integer milli-unit arithmetic so the result is deterministic and
    hash-gateable: a pair's contribution is
    ``value_a * cells(a∩b) * scale div cells(a)`` (bigint floor), summed
    per target.  A target that fully contains a source receives exactly
    ``value_a * scale`` — no float drift anywhere.

    Output: ``(b_id, value_scaled)``, inner — targets intersecting no
    source are absent.

    Scale shape: both covers explode independently (bounded by the
    cover rails), the pairing is the :func:`polygon_overlay` equi-join
    on ``cell_id``, and per-source totals reuse layer A's cover with a
    map-side-combinable count.  The two dimension joins on ``a_id``
    (totals, values) broadcast only when the SOURCE layer is provably
    small (the spatial join's layer decision, `_layer_broadcasts`); a
    10⁸-polygon source layer instead shuffles on ``a_id``
    and AQE picks the physical strategy from the real runtime sizes.
    Everything downstream is one shuffle on ``b_id``."""
    vtype = dict(values_a.dtypes).get(value_col)
    if vtype is None:
        raise ValueError(
            f"values_a has no column {value_col!r} "
            f"(columns: {values_a.columns})"
        )
    if vtype not in ("tinyint", "smallint", "int", "bigint", "long"):
        # a float value would silently truncate under the bigint
        # apportionment — the operator's contract is integer units
        # (pre-scale fractional quantities to milli-units upstream)
        raise ValueError(
            f"value column {value_col!r} is {vtype} — areal_interpolate "
            "apportions exact integers; pre-scale fractional values to "
            "an integer unit (e.g. milli-units) before transfer"
        )
    ca = geometry.polygon_cover_cells(layer_a, res, mode).select(
        F.col("poly_id").alias("a_id"), "cell_id"
    )
    cb = geometry.polygon_cover_cells(layer_b, res, mode).select(
        F.col("poly_id").alias("b_id"), "cell_id"
    )
    # the two a_id dimensions (totals, values) are one row per SOURCE
    # polygon: broadcast only when layer A is provably under the
    # broadcast rail; above it, fall through to shuffle joins and let
    # AQE re-plan from observed sizes (forcing a broadcast of O(|A|)
    # rows would OOM on the large layers the mapInPandas cover path
    # exists for)
    dim = F.broadcast if _layer_broadcasts(layer_a) else (lambda d: d)
    tot = ca.groupBy("a_id").agg(F.count("*").alias("a_cells"))
    ov = (
        ca.join(cb, "cell_id")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("cells"))
    )
    vals = values_a.select(
        F.col("poly_id").alias("a_id"),
        F.col(value_col).cast("long").alias("_value"),
    )
    part = (
        ov.join(dim(tot), "a_id")
        .join(dim(vals), "a_id")
        # bigint floor apportionment built from Column ops (no string
        # SQL → arbitrary column names are safe); `div` is the integral
        # division both engines share
        .withColumn("_num", F.col("_value") * F.col("cells") * F.lit(int(scale)))
        .withColumn("_part", F.expr("_num div a_cells"))
    )
    return part.groupBy("b_id").agg(F.sum("_part").alias("value_scaled"))
