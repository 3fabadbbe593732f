"""Zonal statistics — ``Band.reduce`` / ``band_summaries``.

The reference computes per-polygon stats through a rasterstats loop
(`eodal/core/band.py:2049-2203`, call :2166-2173) with the method set
{min, mean, std, max, count, median, …} (band.py:2051-2053) and
per-band concat (`eodal/core/raster.py:1309-1357`).  Here it is one
``groupBy(poly_id).agg(...)`` after the broadcast spatial join — Spark
does map-side partial aggregation automatically, so the shuffle carries
only per-(partition, poly) partials, not pages.

Numeric policy for the cross-engine oracle: sums/averages are computed
in DECIMAL (exact, order-independent) and medians with the exact
``median`` — no float nondeterminism in gated outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from eodal_spark.session import local_frame

STAT_SET = ("count", "min", "max", "sum", "avg", "stddev", "median")


def stat_exprs(value: str, stats=STAT_SET, decimals: int = 4) -> list[Column]:
    """The Band.reduce method set as aggregate expressions.
    Unknown names raise — ≡ the reference's method check
    (band.py:2123-2150)."""
    v = F.col(value)
    dec = v.cast("decimal(28,6)")
    mapping = {
        "count": F.count(v).alias("cnt"),
        "min": F.min(v).alias("min_v"),
        "max": F.max(v).alias("max_v"),
        "sum": F.sum(dec).cast("decimal(28,6)").alias("sum_v"),
        "avg": F.avg(dec).cast("decimal(28,6)").alias("avg_v"),
        "stddev": F.round(F.stddev(v), decimals).alias("stddev_v"),
        "median": F.median(v).alias("median_v"),
    }
    bad = [s for s in stats if s not in mapping]
    if bad:
        raise ValueError(f"unknown stats {bad}; allowed: {sorted(mapping)}")
    return [mapping[s] for s in stats]


def zonal_stats(
    joined: DataFrame,
    value: str,
    by: str = "poly_id",
    stats=STAT_SET,
    keep_empty: bool = False,
    polys: DataFrame | None = None,
) -> DataFrame:
    """Per-polygon stats over the joined (page × polygon) relation.

    ``keep_empty=True`` left-joins the full polygon dimension back so
    polygons with no pages appear with count 0 / NULL stats — ≡ the
    reference's ``keep_nans`` flag (band.py:2079-2081, :2186-2197):
    empty polygons are *dropped* unless requested."""
    out = joined.groupBy(by).agg(*stat_exprs(value, stats))
    if keep_empty:
        if polys is None:
            raise ValueError("keep_empty requires the polygon dimension")
        dim = polys.select(by).distinct()
        out = dim.join(out, by, "left")
        if "count" in stats:
            out = out.withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    return out


def value_counts(
    df: DataFrame,
    value: str,
    classes: list,
    by: str | None = None,
) -> DataFrame:
    """Class histogram with zero-backfill for absent classes + relative
    share — ≡ ``Sentinel2.get_scl_stats``
    (`eodal/core/sensors/sentinel2.py:701-778`, backfill :760-776).
    ``classes`` is the full class dimension (a small literal table)."""
    dim = local_frame(
        df.sparkSession, [(c,) for c in classes], T.StructType([df.schema[value]])
    )
    keys = [by, value] if by else [value]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    if by:
        groups = df.select(by).distinct()
        dim = groups.crossJoin(dim)
    out = dim.join(counts, keys, "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0))
    )
    total = F.sum("n").over(Window.partitionBy(*([by] if by else [])))
    return out.withColumn(
        "share",
        F.when(total > 0, (F.col("n").cast("decimal(28,6)") / total).cast("decimal(28,6)")).otherwise(None),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    lo: int,
    hi: int,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-width binned counts — `Band.hist` (`eodal/core/band.py:
    1482-1520`) as one groupBy (optionally per zone via ``by``).

    Bin assignment floors ``(v - lo) · n_bins / (hi - lo)`` computed in
    IEEE doubles — identical op order in any engine gives bit-identical
    bins (floor has no rounding mode), clamped to the edge bins.
    Fractional values and non-integer bin widths bin correctly (an
    integer pre-floor of v would mis-bin them).  Returns (by..., bin, n)
    with empty bins backfilled per group."""
    raw = F.floor(
        (F.col(value_col).cast("double") - F.lit(float(lo)))
        * F.lit(n_bins)
        / F.lit(float(hi - lo))
    ).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).alias("bin")
    counts = df.select(*by, bin_).groupBy(*by, "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    spark = df.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    if by:
        # group keys come from the (already tiny) counts aggregate —
        # re-scanning the fact table just to enumerate keys would be a
        # second full pass
        keys = counts.select(*by).distinct()
        bins = keys.crossJoin(bins)
    return (
        bins.join(counts, [*by, "bin"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
    )


def zonal_quantiles(
    df: DataFrame,
    value_col: str,
    by: str = "poly_id",
    ps_milli: tuple[int, ...] = (250, 500, 750, 900),
) -> DataFrame:
    """EXACT per-zone quantiles of an integer-valued band — the
    percentile extension of ``Band.reduce``'s method set (the
    reference's np.percentile post-processing on `Band.values`,
    applied per zone).

    Quantile definition (lower-nearest-rank, cross-engine exact): the
    element at 1-based rank ``1 + (n-1)·p div 1000`` of the zone's
    sorted values — pure integer arithmetic, no interpolation, so the
    gated output hashes bit-for-bit.

    Skew-proof by construction: most exact-percentile plans sort the
    ROWS of each zone (a mega-zone serializes into one task).  This
    one aggregates a per-(zone, value) HISTOGRAM first — map-side
    combine crushes hot zones before the shuffle — then runs the
    cumulative window over the zone's DISTINCT VALUES (bounded by the
    value domain, not the row count) and picks each target rank from
    the cumulative span that contains it.  One groupBy + one
    distinct-value-sized window; a 10^9-row city zone with a 16-bit
    band costs a 65k-row window partition.

    Returns one row per (zone, p_milli): ``(by, p_milli, q_value,
    n)``."""
    h = df.groupBy(by, value_col).agg(F.count(F.lit(1)).alias("_c"))
    wz = Window.partitionBy(by)
    wv = (
        Window.partitionBy(by)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        h.withColumn("_n", F.sum("_c").over(wz))
        .withColumn("_hi", F.sum("_c").over(wv))
        .withColumn("_lo", F.col("_hi") - F.col("_c"))
    )
    p = F.explode(F.array(*[F.lit(int(x)) for x in ps_milli])).alias("p_milli")
    ranked = cum.select(by, value_col, "_lo", "_hi", "_n", p)
    r = 1 + F.expr(f"(_n - 1) * p_milli div 1000")
    return (
        ranked.filter((F.col("_lo") < r) & (r <= F.col("_hi")))
        .select(
            by,
            "p_milli",
            F.col(value_col).alias("q_value"),
            F.col("_n").cast("long").alias("n"),
        )
    )
