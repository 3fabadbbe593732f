"""Zonal stats vs pandas oracle — ≡ Band.reduce golden tests
(`tests/core/test_band.py` reduce/zonal sections)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import spatial_join as SJ
from eodal_spark.operators import zonal
from eodal_spark.sources import pages as P

RES = 8


@pytest.fixture(scope="module")
def joined(spark, pages_small, sample_polys):
    geo = P.geocode(pages_small, RES).withColumn("n_chars", F.length("text"))
    return SJ.spatial_join(
        geo, sample_polys, RES, rule="centroid", page_cols=("url", "n_chars")
    ).cache()


def test_zonal_stats_match_pandas(joined):
    got = {
        r["poly_id"]: r
        for r in zonal.zonal_stats(joined, "n_chars").collect()
    }
    pdf = joined.select("poly_id", "n_chars").toPandas()
    for pid, g in pdf.groupby("poly_id"):
        v = g["n_chars"].to_numpy(np.float64)
        r = got[pid]
        assert r["cnt"] == len(v)
        assert r["min_v"] == v.min() and r["max_v"] == v.max()
        assert float(r["sum_v"]) == pytest.approx(v.sum(), abs=1e-6)
        assert float(r["avg_v"]) == pytest.approx(v.mean(), abs=1e-4)
        assert float(r["stddev_v"]) == pytest.approx(v.std(ddof=1), abs=1e-3)
        assert float(r["median_v"]) == pytest.approx(np.median(v), abs=1e-9)


def test_empty_polygon_dropped_unless_keep(joined, sample_polys):
    stats = zonal.zonal_stats(joined, "n_chars")
    assert stats.filter("poly_id = 5").count() == 0  # dropped (no keep_nans)
    kept = zonal.zonal_stats(
        joined, "n_chars", keep_empty=True, polys=sample_polys
    )
    row = kept.filter("poly_id = 5").first()
    assert row["cnt"] == 0 and row["min_v"] is None


def test_unknown_stat_raises(joined):
    with pytest.raises(ValueError):
        zonal.stat_exprs("n_chars", stats=("nanmedian",))


def test_value_counts_backfill(spark, pages_small):
    counts = zonal.value_counts(
        pages_small, "lang", classes=["en", "de", "fr", "it", "zz"]
    ).collect()
    by = {r["lang"]: r for r in counts}
    assert by["zz"]["n"] == 0  # absent class backfilled with 0
    total = sum(r["n"] for r in counts)
    assert total == 10_000
    assert float(sum(r["share"] for r in counts)) == pytest.approx(1.0, abs=1e-4)
    # an empty class dimension is a typed empty relation, not an
    # inference error
    assert zonal.value_counts(pages_small, "lang", classes=[]).collect() == []


def test_value_counts_grouped(spark, pages_small):
    geo = P.geocode(pages_small, 4)
    out = zonal.value_counts(geo, "lang", ["en", "de", "fr", "it"], by="cell_id")
    # each cell's shares sum to 1
    sums = out.groupBy("cell_id").agg(F.sum("share").alias("s"))
    bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-4).count()
    assert bad == 0


def test_to_labeled_export(spark):
    """Labeled nd-array export (to_xarray twin, band.py:2305-2364):
    dense (lat x lon) grids with centroid coordinate vectors; gaps get
    nodata; duplicate cells are refused."""
    import numpy as np
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR
    from eodal_spark.operators import export as X

    res = 12
    rows = [(8.5, 47.3, 10.0), (8.6, 47.3, 20.0), (9.9, 48.8, 30.0)]
    df = spark.createDataFrame(rows, ["lon", "lat", "v"]).select(
        GR.cell_encode("lon", "lat", res).alias("cell_id"), "v"
    )
    lab = X.to_labeled(df, ("v",), res)
    a = lab["data"]["v"]
    assert a.shape == (len(lab["coords"]["lat"]), len(lab["coords"]["lon"]))
    vals = a[~np.isnan(a)]
    assert sorted(vals.tolist()) == [10.0, 20.0, 30.0]
    # coords are cell centroids (within half a cell of the inputs)
    assert abs(lab["coords"]["lat"].min() - 47.3) < 180.0 / (1 << res)
    # duplicates refused
    dup = df.union(df)
    import pytest as _pt
    with _pt.raises(ValueError, match="duplicate"):
        X.to_labeled(dup, ("v",), res)
    # xarray absent in this sandbox -> actionable ImportError
    with _pt.raises(ImportError, match="to_labeled"):
        X.to_xarray(df, ("v",), res)


def test_histogram_fractional_values(spark):
    """Fractional values and non-integer bin widths bin correctly (an
    integer pre-floor of the value would zero out odd bins)."""
    from eodal_spark.operators import zonal as Z

    df = spark.createDataFrame(
        [(0.3,), (0.7,), (1.2,), (3.5,), (4.9,)], ["v"]
    )
    got = {
        r["bin"]: r["n"]
        for r in Z.histogram(df, "v", n_bins=10, lo=0, hi=5).collect()
    }
    # widths of 0.5: 0.3→0, 0.7→1, 1.2→2, 3.5→7, 4.9→9
    assert got[0] == 1 and got[1] == 1 and got[2] == 1
    assert got[7] == 1 and got[9] == 1
    assert sum(got.values()) == 5


def test_plot_data_and_heatmap(spark):
    """plot_data: Band.plot's render-ready contract (grid + extent +
    vrange); heatmap_grid: the distributed 2-D binned aggregate."""
    from eodal_spark.operators import export as X

    res = 4
    rows = [((res << 58) + (x << 29) + y, float(x * 10 + y))
            for x in (1, 2) for y in (3, 4)]
    df = spark.createDataFrame(rows, ["cell_id", "v"])
    pd_ = X.plot_data(df, ("v",), res)
    assert pd_["extent"] is not None and pd_["vrange"]["v"] == (13.0, 24.0)
    assert pd_["data"]["v"].shape == (2, 2)

    hm = {(r["x"], r["y"]): (r["n"], r["mean_milli"])
          for r in X.heatmap_grid(df.withColumn("n_chars", (F.col("v") * 2).cast("long")),
                                  res, value_col="n_chars").collect()}
    assert hm[(1, 3)] == (1, 26000)
    assert len(hm) == 4

    import pytest as _pytest
    with _pytest.raises(ImportError, match="matplotlib"):
        X.render_plot(df, "v", res)


def test_plot_spec_styling_vocabulary(spark):
    """The reference's Band.plot styling knobs (band.py:1522-1680),
    data-plane half computed distributed: robust 2%/98% vmin/vmax via
    percentile_approx, discrete bands -> sorted distinct boundaries +
    ticks (cap-guarded), renderer knobs passed through."""
    import pytest

    from eodal_spark.operators import export as X

    df = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    spec = X.plot_spec(df, "v")
    assert spec["colormap"] == "viridis" and spec["colorbar_label"] == "v"
    assert 0 <= spec["vmin"] <= 40 and 940 <= spec["vmax"] <= 999
    # explicit vmin/vmax suppress the quantile pass
    spec2 = X.plot_spec(df, "v", vmin=0, vmax=10, colorbar_label="NDVI")
    assert (spec2["vmin"], spec2["vmax"]) == (0, 10)
    assert spec2["colorbar_label"] == "NDVI"

    scl = spark.range(1000).selectExpr("CAST(id % 12 AS DOUBLE) AS scl")
    d = X.plot_spec(scl, "scl", discrete_values=True)
    assert d["boundaries"] == [float(x) for x in range(12)]
    assert d["ticks"] == d["boundaries"]
    d2 = X.plot_spec(
        scl, "scl", discrete_values=True, user_defined_ticks=["a", "b"]
    )
    assert d2["ticks"] == ["a", "b"]

    with pytest.raises(ValueError, match="distinct"):
        X.plot_spec(df, "v", discrete_values=True)


def test_zonal_quantiles_exact_ranks(spark):
    from eodal_spark.operators.zonal import zonal_quantiles

    # zone a: values 1..10 (n=10): p250 -> rank 1+9*250//1000=3 -> 3
    # p500 -> rank 5 -> 5; p900 -> rank 9 -> 9
    # zone b: heavy ties: [7]*99 + [9]: p500 -> 7, p990+ boundary
    rows = [("a", v) for v in range(1, 11)]
    rows += [("b", 7)] * 99 + [("b", 9)]
    df = spark.createDataFrame(rows, ["poly_id", "v"])
    out = {
        (r.poly_id, r.p_milli): (r.q_value, r.n)
        for r in zonal_quantiles(df, "v", ps_milli=(250, 500, 900, 1000)).collect()
    }
    assert out[("a", 250)] == (3, 10)
    assert out[("a", 500)] == (5, 10)
    assert out[("a", 900)] == (9, 10)
    assert out[("a", 1000)] == (10, 10)  # max
    assert out[("b", 500)] == (7, 100)
    assert out[("b", 1000)] == (9, 100)  # the single 9 at rank 100
    # python reference over every p
    import math
    vals = sorted(v for z, v in rows if z == "a")
    for (z, p), (q, n) in out.items():
        if z == "a":
            assert q == vals[(n - 1) * p // 1000]


def test_zonal_quantiles_histogram_plan(spark):
    from eodal_spark.operators.zonal import zonal_quantiles

    df = spark.createDataFrame([("a", 1), ("a", 1), ("a", 2)], ["poly_id", "v"])
    plan = (
        zonal_quantiles(df, "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the window input is the AGGREGATED histogram, not raw rows
    assert "HashAggregate" in plan
