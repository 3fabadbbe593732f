"""PIP kernel + covering invariants (≡ reference clip/rasterize tests,
`tests/core/test_band.py:331-388` from_vector / clip golden checks)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eodal_spark import geometry, grid


def test_pip_convex_native_matches_numpy(spark, sample_polys):
    pts = spark.range(4000).select(
        (F.col("id") * 1.7 % 360 - 180.0).alias("px"),
        (F.col("id") * 0.9 % 170 - 85.0).alias("py"),
    )
    joined = pts.crossJoin(F.broadcast(sample_polys.filter("is_convex")))
    got = (
        joined.select(
            "px", "py", "poly_id",
            geometry.pip_convex(F.col("px"), F.col("py"), F.col("xs"), F.col("ys")).alias("inside"),
        )
        .toPandas()
        .sort_values(["poly_id", "px", "py"])
        .reset_index(drop=True)
    )
    polys = {r["poly_id"]: (np.array(r["xs"]), np.array(r["ys"]))
             for r in sample_polys.collect()}
    expect = np.concatenate([
        geometry.np_pip_convex(
            g["px"].to_numpy(), g["py"].to_numpy(), *polys[pid]
        )
        for pid, g in got.groupby("poly_id", sort=True)
    ])
    # groupby preserves within-group order after our sort
    assert (got["inside"].to_numpy() == expect).all()


def test_pip_convex_boundary_inclusive(spark):
    square = geometry.polygons_df(
        spark, [(1, [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])]
    )
    pts = spark.createDataFrame(
        [(0.0, 0.0), (10.0, 10.0), (5.0, 0.0), (0.0, 5.0), (5.0, 5.0),
         (10.000001, 5.0), (-0.000001, 5.0)],
        ["px", "py"],
    )
    out = (
        pts.crossJoin(F.broadcast(square))
        .select("px", geometry.pip_convex(F.col("px"), F.col("py"), F.col("xs"), F.col("ys")).alias("inside"))
        .collect()
    )
    by_px = {r["px"]: r["inside"] for r in out}
    assert by_px[0.0] and by_px[10.0] and by_px[5.0]
    assert not by_px[10.000001] and not by_px[-0.000001]


def test_pip_even_odd_concave():
    # concave "L": the notch (x>-25, y>5) must be outside
    xs = np.array([-30.0, -10.0, -10.0, -25.0, -25.0, -30.0])
    ys = np.array([0.0, 0.0, 5.0, 5.0, 20.0, 20.0])
    px = np.array([-28.0, -12.0, -15.0, -28.0, -50.0])
    py = np.array([2.0, 2.0, 10.0, 15.0, 2.0])
    got = geometry.np_pip_even_odd(px, py, xs, ys)
    assert got.tolist() == [True, True, False, True, False]


def test_sql_pip_dialects_agree(spark, sample_polys):
    import duckdb

    rows = sample_polys.filter("is_convex").select("poly_id", "xs", "ys").collect()
    px, py = 8.5, 47.4  # inside poly 1 only
    for r in rows:
        sexpr = geometry.sql_pip_convex(str(px), str(py), "xs", "ys", "spark")
        got_s = (
            spark.createDataFrame([(r["xs"], r["ys"])], ["xs", "ys"])
            .selectExpr(f"{sexpr} AS inside")
            .first()["inside"]
        )
        dexpr = geometry.sql_pip_convex(str(px), str(py), "xs", "ys", "duckdb")
        got_d = duckdb.sql(
            f"SELECT {dexpr} AS inside FROM (SELECT {r['xs']} AS xs, {r['ys']} AS ys)"
        ).fetchone()[0]
        assert got_s == got_d == (r["poly_id"] == 1)


def test_cover_cells_centroid_rule(spark, sample_polys):
    res = 8
    cover = geometry.polygon_cover_cells(sample_polys, res, mode="centroid")
    pdf = cover.toPandas()
    polys = {r["poly_id"]: (np.array(r["xs"]), np.array(r["ys"]),
                            bool(r["is_convex"]))
             for r in sample_polys.collect()}
    # oracle: brute-force over the full grid bbox of each polygon
    n = 1 << res
    for pid, (xs, ys, convex) in polys.items():
        gx, gy = np.meshgrid(np.arange(n), np.arange(n // 2 * 2), indexing="ij")
        # restrict to bbox candidates for speed
        x0, _ = grid.np_cell_xy(np.array([xs.min()]), np.array([0.0]), res)
        x1, _ = grid.np_cell_xy(np.array([xs.max()]), np.array([0.0]), res)
        _, y0 = grid.np_cell_xy(np.array([0.0]), np.array([ys.min()]), res)
        _, y1 = grid.np_cell_xy(np.array([0.0]), np.array([ys.max()]), res)
        cx = np.arange(x0[0], x1[0] + 1)
        cy = np.arange(y0[0], y1[0] + 1)
        gx, gy = np.meshgrid(cx, cy, indexing="ij")
        gx, gy = gx.ravel(), gy.ravel()
        clon = (gx + 0.5) / n * 360.0 - 180.0
        clat = (gy + 0.5) / n * 180.0 - 90.0
        inside = (
            geometry.np_pip_convex(clon, clat, xs, ys)
            if convex
            else geometry.np_pip_even_odd(clon, clat, xs, ys)
        )
        expect = set(((np.int64(res) << 58) | (gx[inside] << 29) | gy[inside]).tolist())
        got = set(pdf[pdf["poly_id"] == pid]["cell_id"].tolist())
        assert got == expect, f"poly {pid}"
    # full-cell flags: a full cell's centroid must be inside (sanity)
    full = pdf[pdf["full"]]
    assert len(full) > 0  # big polys at res 8 have interior cells


def test_cover_cells_size_guard(spark):
    # a hemisphere-sized polygon at res 16 must fail fast, not OOM
    from eodal_spark.geometry import polygon_cover_cells, polygons_df

    big = polygons_df(
        spark, [(1, [(-170.0, -80.0), (170.0, -80.0), (170.0, 80.0), (-170.0, 80.0)])]
    )
    with pytest.raises(Exception, match="coarser"):
        polygon_cover_cells(big, 16).count()


# ---------------------------------------------------------------------------
# Multi-ring geometry: WKT/WKB, holes, MultiPolygon
# ---------------------------------------------------------------------------

HOLED = [[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
         [(3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0)]]
MULTI = [[[(20.0, 0.0), (30.0, 0.0), (25.0, 8.0)]],
         [[(40.0, 0.0), (50.0, 0.0), (45.0, 8.0), (42.0, 9.0)]]]


def test_wkt_round_trip():
    wkt = geometry.to_wkt("POLYGON", HOLED)
    t, coords = geometry.parse_wkt(wkt)
    assert t == "POLYGON"
    assert len(coords) == 2 and coords[0][0] == (0.0, 0.0)
    assert coords[0][0] == coords[0][-1]  # closed on the wire
    mw = geometry.to_wkt("MULTIPOLYGON", MULTI)
    t2, c2 = geometry.parse_wkt(mw)
    assert t2 == "MULTIPOLYGON" and len(c2) == 2 and len(c2[1][0]) == 5
    # Z flattening + EMPTY + point forms
    assert geometry.parse_wkt("POINT Z (1 2 3)") == ("POINT", [(1.0, 2.0)])
    assert geometry.parse_wkt("POLYGON EMPTY") == ("POLYGON", [])
    assert geometry.parse_wkt("MULTIPOINT ((1 2), (3 4))")[1] == [(1.0, 2.0), (3.0, 4.0)]
    assert geometry.parse_wkt("MULTIPOINT (1 2, 3 4)")[1] == [(1.0, 2.0), (3.0, 4.0)]


def _wkb_polygon(rings, byteorder="<"):
    import struct
    bo = 1 if byteorder == "<" else 0
    out = struct.pack(f"{byteorder}BI", bo, 3) + struct.pack(f"{byteorder}I", len(rings))
    for r in rings:
        pts = list(r) + [r[0]]
        out += struct.pack(f"{byteorder}I", len(pts))
        for x, y in pts:
            out += struct.pack(f"{byteorder}dd", x, y)
    return out


def test_wkb_parse():
    import struct
    t, coords = geometry.parse_wkb(_wkb_polygon(HOLED))
    assert t == "POLYGON" and len(coords) == 2
    assert coords[1][0] == (3.0, 3.0)
    # big-endian too
    t, coords = geometry.parse_wkb(_wkb_polygon(HOLED, ">"))
    assert t == "POLYGON" and coords[0][1] == (10.0, 0.0)
    # MULTIPOLYGON = header + nested polygon WKBs
    mp = struct.pack("<BII", 1, 6, 2) + _wkb_polygon(MULTI[0]) + _wkb_polygon(MULTI[1])
    t, coords = geometry.parse_wkb(mp)
    assert t == "MULTIPOLYGON" and len(coords) == 2 and len(coords[1][0]) == 5


def test_pip_even_odd_rings_semantics():
    rx = [[p[0] for p in r] for r in HOLED]
    ry = [[p[1] for p in r] for r in HOLED]
    px = np.array([5.0, 1.0, 5.0, 11.0])   # hole, band, hole, outside
    py = np.array([5.0, 5.0, 1.0, 5.0])
    got = geometry.np_pip_even_odd_rings(px, py, rx, ry)
    assert got.tolist() == [False, True, True, False]
    # multipolygon: inside part 1, inside part 2, between parts
    rx2 = [[p[0] for p in part[0]] for part in MULTI]
    ry2 = [[p[1] for p in part[0]] for part in MULTI]
    got2 = geometry.np_pip_even_odd_rings(
        np.array([25.0, 45.0, 35.0]), np.array([2.0, 2.0, 2.0]), rx2, ry2
    )
    assert got2.tolist() == [True, True, False]


def test_pip_even_odd_rings_three_engines(spark):
    """Native Column, numpy kernel and DuckDB SQL must agree bit-for-bit."""
    import duckdb
    import pandas as pd

    rng = np.random.default_rng(7)
    px = rng.uniform(-5.0, 55.0, 2000)
    py = rng.uniform(-5.0, 15.0, 2000)
    polys = geometry.polygons_df(
        spark,
        [(1, geometry.to_wkt("POLYGON", HOLED)),
         (2, geometry.to_wkt("MULTIPOLYGON", MULTI))],
    )
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"px": px, "py": py}))
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(px, py)], "px double, py double"
    )
    for row in polys.collect():
        rx = [list(r) for r in row.rings_x]
        ry = [list(r) for r in row.rings_y]
        expect = geometry.np_pip_even_odd_rings(px, py, rx, ry)
        assert expect.sum() > 100  # non-trivial fixture
        got = np.array(
            [r[0] for r in pts.select(
                geometry.pip_even_odd_rings(
                    F.col("px"), F.col("py"), F.lit(rx), F.lit(ry))
            ).collect()]
        )
        assert (got == expect).all()
        pred = geometry.sql_pip_even_odd_rings(
            "p.px", "p.py",
            f"CAST({rx} AS DOUBLE[][])", f"CAST({ry} AS DOUBLE[][])", "duckdb")
        duck = con.execute(f"SELECT {pred} FROM pts p").df().iloc[:, 0].to_numpy()
        assert (duck == expect).all()


def test_polygons_df_accepts_all_forms(spark):
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0)]
    forms = [
        (1, ring),                                   # bare ring (legacy)
        (2, HOLED),                                  # [exterior, hole]
        (3, MULTI),                                  # parts
        (4, geometry.to_wkt("POLYGON", HOLED)),      # WKT
        (5, _wkb_polygon(HOLED)),                    # WKB
    ]
    pdf = geometry.polygons_df(spark, forms).toPandas().set_index("poly_id")
    assert pdf.loc[1, "is_convex"] and len(pdf.loc[1, "rings_x"]) == 1
    assert not pdf.loc[2, "is_convex"] and len(pdf.loc[2, "rings_x"]) == 2
    assert len(pdf.loc[3, "rings_x"]) == 2 and pdf.loc[3, "xmax"] == 50.0
    assert list(pdf.loc[4, "rings_x"][1]) == list(pdf.loc[5, "rings_x"][1])


def test_spatial_join_exact_holed_and_multi(spark):
    """Exact spatial join against holed + multi-part layer matches the
    numpy oracle point-for-point (and excludes hole interiors)."""
    from eodal_spark import grid as GR
    from eodal_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(11)
    lon = rng.uniform(-10.0, 55.0, 3000)
    lat = rng.uniform(-10.0, 15.0, 3000)
    res = 8
    pages = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "url long, lon double, lat double",
    ).withColumn("cell_id", GR.cell_encode("lon", "lat", res))
    polys = geometry.polygons_df(
        spark,
        [(1, geometry.to_wkt("POLYGON", HOLED)),
         (2, geometry.to_wkt("MULTIPOLYGON", MULTI))],
    )
    got = (
        SJ.spatial_join(pages, polys, res, rule="exact")
        .select("poly_id", "url").toPandas()
    )
    for pid, geom in [(1, HOLED), (2, [p[0] for p in MULTI])]:
        rx = [[p[0] for p in r] for r in geom]
        ry = [[p[1] for p in r] for r in geom]
        expect = set(np.nonzero(geometry.np_pip_even_odd_rings(lon, lat, rx, ry))[0].tolist())
        have = set(got[got["poly_id"] == pid]["url"].tolist())
        assert have == expect, f"poly {pid}: {len(have ^ expect)} diffs"


def test_distributed_covering_matches_driver_side(spark, monkeypatch):
    """polygon_cover_cells must produce identical coverings via the
    driver-side collect path and the distributed mapInPandas path —
    including holed and multi-part geometries.  A driver-side layer cap
    of 0 sends the same 3-polygon layer down the distributed path."""
    polys = geometry.polygons_df(
        spark,
        [(1, geometry.to_wkt("POLYGON", HOLED)),
         (2, geometry.to_wkt("MULTIPOLYGON", MULTI)),
         (3, [(60.0, 0.0), (70.0, 0.0), (65.0, 9.0)])],
    )
    for mode in ("centroid", "bbox"):
        a = geometry.polygon_cover_cells(polys, 8, mode=mode)
        with monkeypatch.context() as m:
            m.setattr(geometry, "DRIVER_COVER_MAX_POLYS", 0)
            b = geometry.polygon_cover_cells(polys, 8, mode=mode)
        assert "MapInPandas" in b._jdf.queryExecution().executedPlan().toString()
        ra = {tuple(r) for r in a.collect()}
        rb = {tuple(r) for r in b.collect()}
        assert ra == rb and len(ra) > 0, mode


def test_cover_skips_span_between_distant_parts(spark):
    """A 2-part MultiPolygon at opposite ends of the world must cover
    only its parts' bbox cells, never the ocean between them (per-ring
    bbox union, not one global bbox)."""
    far = geometry.polygons_df(
        spark,
        [(1, "MULTIPOLYGON (((-179.5 0.5, -178.5 0.5, -178.5 1.5, -179.5 1.5, -179.5 0.5)), "
             "((178.5 0.5, 179.5 0.5, 179.5 1.5, 178.5 1.5, 178.5 0.5)))")],
    )
    res = 10
    cover = geometry.polygon_cover_cells(far, res, mode="bbox").toPandas()
    n = 1 << res
    xs = ((cover["cell_id"].to_numpy() >> 29) & ((1 << 29) - 1))
    lon = (xs + 0.5) / n * 360.0 - 180.0
    # every candidate cell hugs one of the two parts
    assert (((lon > 178.0) | (lon < -178.0))).all()
    assert len(cover) > 0
    # the old single-bbox behavior would have produced ~the whole equator band
    assert len(cover) < 200
