"""Spatial-join row-for-row checks vs a numpy oracle — ≡ the reference's
clip/mask goldens (`tests/core/test_band.py:331-388`, ``:481-503``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from eodal_spark import geometry, grid
from eodal_spark.operators import spatial_join as SJ
from eodal_spark.sources import pages as P

RES = 8


@pytest.fixture(scope="module")
def pages_geo(spark, pages_small):
    return P.geocode(pages_small, RES).cache()


@pytest.fixture(scope="module")
def oracle_frame(spark):
    """pandas frame (url, lon, lat, cell, centroid lon/lat) from the
    dialect SQL — independent derivation path from `geocode`."""
    pdf = spark.sql(
        f"SELECT url, lat_centi, lon_centi FROM {P.sql_pages_subquery(10_000, 'spark')}"
    ).toPandas()
    lon = pdf["lon_centi"].to_numpy() / 100.0 - 180.0
    lat = pdf["lat_centi"].to_numpy() / 100.0 - 90.0
    cell = grid.np_cell_encode(lon, lat, RES)
    clon, clat = grid.np_cell_centroid(cell, RES)
    pdf["lon"], pdf["lat"], pdf["cell"] = lon, lat, cell
    pdf["clon"], pdf["clat"] = clon, clat
    return pdf


def _oracle_join(oracle_frame, polys_rows, px_col, py_col):
    out = []
    for r in polys_rows:
        xs, ys = np.array(r["xs"]), np.array(r["ys"])
        fn = geometry.np_pip_convex if r["is_convex"] else geometry.np_pip_even_odd
        inside = fn(
            oracle_frame[px_col].to_numpy(), oracle_frame[py_col].to_numpy(), xs, ys
        )
        sub = oracle_frame[inside][["url"]].copy()
        sub["poly_id"] = r["poly_id"]
        out.append(sub)
    return (
        pd.concat(out)
        .sort_values(["poly_id", "url"])
        .reset_index(drop=True)[["poly_id", "url"]]
    )


def test_centroid_rule_matches_oracle(spark, pages_geo, sample_polys, oracle_frame):
    got = (
        SJ.spatial_join(pages_geo, sample_polys, RES, rule="centroid")
        .select("poly_id", "url")
        .toPandas()
        .sort_values(["poly_id", "url"])
        .reset_index(drop=True)
    )
    expect = _oracle_join(
        oracle_frame, sample_polys.collect(), "clon", "clat"
    )
    pd.testing.assert_frame_equal(got, expect)


def test_exact_rule_matches_oracle(spark, pages_geo, sample_polys, oracle_frame):
    got = (
        SJ.spatial_join(pages_geo, sample_polys, RES, rule="exact")
        .select("poly_id", "url")
        .toPandas()
        .sort_values(["poly_id", "url"])
        .reset_index(drop=True)
    )
    expect = _oracle_join(oracle_frame, sample_polys.collect(), "lon", "lat")
    pd.testing.assert_frame_equal(got, expect)


def test_outside_polygon_yields_no_rows(pages_geo, sample_polys):
    j = SJ.spatial_join(pages_geo, sample_polys, RES, rule="centroid")
    assert j.filter("poly_id = 5").count() == 0


def test_plan_uses_broadcast_join(pages_geo, sample_polys):
    j = SJ.spatial_join(pages_geo, sample_polys, RES, rule="centroid")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # big side never shuffles


def test_sample_points_left_join_nulls(spark, pages_geo):
    pts = spark.createDataFrame(
        [(1, 8.54, 47.37), (2, 0.01, -89.99)],  # Zürich hotspot; dead zone
        ["id", "lon", "lat"],
    )
    out = SJ.sample_points(pts, pages_geo, RES).cache()
    assert out.filter("id = 1 AND url IS NOT NULL").count() > 0
    dead = out.filter("id = 2").collect()
    assert len(dead) == 1 and dead[0]["url"] is None


def test_spatial_join_carries_polygon_attributes(spark, pages_small):
    """poly_cols beyond poly_id (attrs from polygons_df(attrs=...)) must
    reach the output in BOTH modes — attributes attach via a broadcast
    join on poly_id, never riding in the covering."""
    import __spark_entry__ as E
    from eodal_spark import geometry
    from eodal_spark.sources import pages as P

    geo = P.geocode(pages_small, E.RES)
    polys = geometry.polygons_df(
        spark, E.PAGE_POLYS,
        attrs={1: {"name": "zrh"}, 2: {"name": "nyc"},
               3: {"name": "jp"}, 4: {"name": "void"}},
    )
    from eodal_spark.operators import spatial_join as SJ

    for rule in ("centroid", "exact"):
        out = SJ.spatial_join(
            geo, polys, E.JOIN_RES, rule=rule, page_res=E.RES,
            poly_cols=("poly_id", "name"),
        )
        got = {r["name"] for r in out.select("name").distinct().collect()}
        assert {"zrh", "nyc", "jp"} <= got, rule
    # exact mode refuses non-inner joins instead of silently dropping rows
    import pytest as _pt
    with _pt.raises(NotImplementedError, match="inner"):
        SJ.spatial_join(geo, polys, E.JOIN_RES, rule="exact", how="left")


def test_big_layer_shuffle_join_matches_broadcast(spark, pages_geo):
    """broadcast_layer=False (the 10⁸-parcel big×big path) must produce
    identical rows to the broadcast plan, via a shuffle join — no
    broadcast of the cover anywhere in the plan."""
    import __spark_entry__ as E

    polys = geometry.polygons_df(spark, E.PAGE_POLYS)
    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    try:
        for rule in ("centroid", "exact"):
            small = SJ.spatial_join(pages_geo, polys, RES, rule=rule)
            a = sorted(map(tuple, small.select("url", "poly_id").collect()))
            # simulate a layer too big to auto-broadcast: with the hint
            # suppressed AND the size threshold off, Catalyst must plan
            # a shuffle join — the big×big path
            spark.conf.set(thr, "-1")
            big = SJ.spatial_join(
                pages_geo, polys, RES, rule=rule, broadcast_layer=False
            )
            plan = big._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, rule
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, rule
            b = sorted(map(tuple, big.select("url", "poly_id").collect()))
            spark.conf.set(thr, prev)
            assert a == b and len(a) > 0, rule
    finally:
        spark.conf.set(thr, prev)


def test_bucketed_cover_spatial_join_zero_exchange(spark, tmp_path):
    """Repeated big×big joins: pages AND a materialized centroid cover
    bucketed on the cell key → spatial_join(precomputed_cover=...,
    broadcast_layer=False) plans with ZERO exchanges (bucket alignment
    survives the internal rename), and rows equal the broadcast path."""
    import __spark_entry__ as E
    from eodal_spark.sources.catalog import write_bucketed

    polys = geometry.polygons_df(spark, E.PAGE_POLYS)
    geo = P.geocode(P.synth_pages(spark, 5_000), RES).select("url", "cell_id")
    cover = geometry.polygon_cover_cells(polys, RES, mode="centroid").select(
        "poly_id", "cell_id"
    )
    write_bucketed(geo, "pages_sb", "cell_id", 8, sort_col="cell_id")
    write_bucketed(cover, "cover_sb", "cell_id", 8)
    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        j = SJ.spatial_join(
            spark.table("pages_sb"), polys, RES,
            broadcast_layer=False,
            precomputed_cover=spark.table("cover_sb"),
        )
        got = sorted(map(tuple, j.select("url", "poly_id").collect()))
        plan = j._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set(thr, prev)
        spark.sql("DROP TABLE IF EXISTS pages_sb")
        spark.sql("DROP TABLE IF EXISTS cover_sb")
    want = sorted(map(tuple, SJ.spatial_join(
        geo, polys, RES
    ).select("url", "poly_id").collect()))
    assert got == want and len(got) > 0


def test_polygon_overlay_self_is_cover_size(spark):
    """Overlaying a layer with itself returns each polygon's full cover
    count on the diagonal."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import polygon_overlay

    polys = geometry.polygons_df(
        spark, [(1, [(7.0, 45.0), (10.0, 45.0), (10.0, 49.0), (7.0, 49.0)])]
    )
    cover_n = geometry.polygon_cover_cells(polys, 8).count()
    got = polygon_overlay(polys, polys, 8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["a_id"], r["b_id"], r["cells"]) == (1, 1, cover_n)


def test_polygon_overlay_disjoint_empty_and_partial_counts(spark):
    """Disjoint pairs never appear (inner join on cells); a half-
    overlapping box counts exactly the shared cells."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import polygon_overlay

    a = geometry.polygons_df(
        spark, [(1, [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])]
    )
    b = geometry.polygons_df(
        spark,
        [
            (2, [(5.0, 0.0), (15.0, 0.0), (15.0, 10.0), (5.0, 10.0)]),
            (3, [(50.0, 50.0), (60.0, 50.0), (60.0, 60.0), (50.0, 60.0)]),
        ],
    )
    got = {
        (r["a_id"], r["b_id"]): r["cells"]
        for r in polygon_overlay(a, b, 8).collect()
    }
    assert set(got) == {(1, 2)}  # poly 3 is disjoint → absent
    # python twin: count cells whose centroid lies in both boxes
    import numpy as np

    n = 1 << 8
    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    clon = (gx + 0.5) / n * 360.0 - 180.0
    clat = (gy + 0.5) / n * 180.0 - 90.0
    in_a = (clon >= 0) & (clon <= 10) & (clat >= 0) & (clat <= 10)
    in_b = (clon >= 5) & (clon <= 15) & (clat >= 0) & (clat <= 10)
    assert got[(1, 2)] == int((in_a & in_b).sum())


def test_polygon_overlay_holed_multipart(spark):
    """Ring-aware covers flow through: a hole region contributes no
    shared cells."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import polygon_overlay

    outer = [(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0)]
    hole = (
        "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), "
        "(5 5, 15 5, 15 15, 5 15, 5 5))"
    )
    a = geometry.polygons_df(spark, [(1, hole)])
    # b sits entirely inside the hole → zero shared cells
    b = geometry.polygons_df(
        spark, [(2, [(7.0, 7.0), (13.0, 7.0), (13.0, 13.0), (7.0, 13.0)])]
    )
    assert polygon_overlay(a, b, 8).count() == 0
    # the solid version of the same outer ring does overlap b
    solid = geometry.polygons_df(spark, [(3, outer)])
    got = polygon_overlay(solid, b, 8).collect()
    assert len(got) == 1 and got[0]["cells"] > 0


def test_areal_interpolate_full_containment_is_exact(spark):
    """A target that fully contains a source receives exactly
    value * scale — the integer-arithmetic no-drift guarantee."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import areal_interpolate

    a = geometry.polygons_df(
        spark,
        [
            (1, [(7.0, 45.0), (10.0, 45.0), (10.0, 49.0), (7.0, 49.0)]),
            (2, [(-75.0, 39.0), (-73.0, 39.0), (-73.0, 42.0), (-75.0, 42.0)]),
        ],
    )
    vals = spark.createDataFrame(
        [(1, 37), (2, 11)], "poly_id long, value long"
    )
    b = geometry.polygons_df(
        spark, [(9, [(-170.0, -80.0), (170.0, -80.0), (170.0, 80.0), (-170.0, 80.0)])]
    )
    got = areal_interpolate(a, vals, b, 8).collect()
    assert len(got) == 1
    assert (got[0]["b_id"], got[0]["value_scaled"]) == (9, (37 + 11) * 1000)


def test_areal_interpolate_proportional_split(spark):
    """A source partitioned by two disjoint targets splits its value in
    exact cover-cell proportion (bigint floor per pair)."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import areal_interpolate

    a = geometry.polygons_df(
        spark, [(1, [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])]
    )
    vals = spark.createDataFrame([(1, 1001)], "poly_id long, value long")
    b = geometry.polygons_df(
        spark,
        [
            (1, [(-0.5, -0.5), (4.0, -0.5), (4.0, 10.5), (-0.5, 10.5)]),
            (2, [(4.0, -0.5), (10.5, -0.5), (10.5, 10.5), (4.0, 10.5)]),
        ],
    )
    cov = geometry.polygon_cover_cells(a, 8)
    n_a = cov.count()
    got = {
        r["b_id"]: r["value_scaled"]
        for r in areal_interpolate(a, vals, b, 8).collect()
    }
    # python twin: per-target shared-cell counts over the source cover
    from eodal_spark.operators.spatial_join import polygon_overlay

    shares = {
        r["b_id"]: r["cells"] for r in polygon_overlay(a, b, 8).collect()
    }
    assert sum(shares.values()) == n_a  # b partitions a's cover
    want = {bid: 1001 * c * 1000 // n_a for bid, c in shares.items()}
    assert got == want
    # floor loss bounded by one unit per (a, b) pair
    assert 0 <= 1001 * 1000 - sum(got.values()) < len(got)


def test_boxes_df_cover_parity_both_paths(spark, monkeypatch):
    """The native box-layer constructor covers identically to the
    driver-side polygons_df layer — on the driver-side AND the
    distributed mapInPandas cover path (reached with a driver-side
    layer cap of 0)."""
    from eodal_spark import geometry

    boxes = [
        (1, 7.25, 45.1, 9.75, 48.9),
        (2, -74.9, 39.2, -73.1, 41.8),
        (3, 139.1, 34.2, 141.9, 37.1),
    ]
    native = geometry.boxes_df(
        spark.createDataFrame(
            boxes, "poly_id long, xmin double, ymin double, xmax double, ymax double"
        )
    )
    legacy = geometry.polygons_df(
        spark,
        [
            (pid, [(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
            for pid, x0, y0, x1, y1 in boxes
        ],
    )
    for cap in (geometry.DRIVER_COVER_MAX_POLYS, 0):
        monkeypatch.setattr(geometry, "DRIVER_COVER_MAX_POLYS", cap)
        got = sorted(
            map(tuple, geometry.polygon_cover_cells(
                native, 8
            ).select("poly_id", "cell_id", "full").collect())
        )
        want = sorted(
            map(tuple, geometry.polygon_cover_cells(
                legacy, 8
            ).select("poly_id", "cell_id", "full").collect())
        )
        assert got == want and len(got) > 0


def test_boxes_df_normalizes_inverted_bounds(spark):
    """A reversed box (xmin > xmax or ymin > ymax) is normalized with
    least/greatest — the emitted ring stays CCW so the convex PIP fast
    path keeps working instead of silently covering nothing."""
    from eodal_spark import geometry

    ok = geometry.boxes_df(
        spark.createDataFrame(
            [(1, 7.25, 45.1, 9.75, 48.9)],
            "poly_id long, xmin double, ymin double, xmax double, ymax double",
        )
    )
    inverted = geometry.boxes_df(
        spark.createDataFrame(
            [(1, 9.75, 48.9, 7.25, 45.1)],  # both axes reversed
            "poly_id long, xmin double, ymin double, xmax double, ymax double",
        )
    )
    want = sorted(
        map(tuple, geometry.polygon_cover_cells(ok, 8)
            .select("poly_id", "cell_id", "full").collect())
    )
    got = sorted(
        map(tuple, geometry.polygon_cover_cells(inverted, 8)
            .select("poly_id", "cell_id", "full").collect())
    )
    assert got == want and len(got) > 0
    row = inverted.first()
    assert row["xmin"] < row["xmax"] and row["ymin"] < row["ymax"]


def test_areal_interpolate_rejects_float_values(spark):
    """A fractional value column would silently truncate under the
    bigint apportionment — the operator must refuse it loudly."""
    import pytest

    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import areal_interpolate

    a = geometry.polygons_df(
        spark, [(1, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])]
    )
    vals = spark.createDataFrame([(1, 1.5)], "poly_id long, value double")
    with pytest.raises(ValueError, match="integer"):
        areal_interpolate(a, vals, a, 8)
    with pytest.raises(ValueError, match="no column"):
        areal_interpolate(
            a, vals.withColumnRenamed("value", "v2"), a, 8
        )


def test_areal_interpolate_odd_column_name(spark):
    """Apportionment is built from Column ops, not interpolated SQL —
    a value column whose name needs backticks must work."""
    from eodal_spark import geometry
    from eodal_spark.operators.spatial_join import areal_interpolate

    a = geometry.polygons_df(
        spark, [(1, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])]
    )
    vals = spark.createDataFrame(
        [(1, 40)], "poly_id long, `my value (units)` long"
    )
    got = areal_interpolate(
        a, vals, a, 8, value_col="my value (units)"
    ).collect()
    assert len(got) == 1 and got[0]["value_scaled"] == 40 * 1000
