"""Vector geometry over DataFrames — the engine's `Feature` layer.

The reference models vector features as shapely geometries with EPSG codes
(`eodal/mapper/feature.py:35-111`) and bridges raster↔vector with
rasterio mask/rasterize (`eodal/core/band.py:758-775`, ``:1058-1072``).
This engine represents a polygon layer as a small **broadcastable
DataFrame**::

    poly_id: long, <attrs...>, xs: array<double>, ys: array<double>,
    xmin/ymin/xmax/ymax: double

``xs``/``ys`` are part-0's exterior-ring vertices (open ring,
CCW-normalized); ``rings_x``/``rings_y`` carry **all** rings — every
part's exterior plus holes — so holed Polygons and MultiPolygons are
first-class (WKT/WKB parsed by `parse_wkt`/`parse_wkb`, no shapely).
Point-in-polygon kernels:

* `pip_convex` — boundary-inclusive convex PIP as a **pure Catalyst
  expression** (min of edge cross products ≥ 0) → whole-stage codegen,
  zero Python.  The engine's pinned membership rule (FIXTURES.md §5) —
  the analogue of the reference's ``all_touched=True`` mask read
  (`eodal/core/band.py:828-835`).
* `pip_even_odd_rings` — general (concave / holes / multi-part) even-odd
  crossing parity over all rings, **also pure Catalyst** (nested
  higher-order aggregates).
* `np_pip_even_odd` / `np_pip_even_odd_rings` — the numpy twins (same
  float op order, bit-identical), used in coverings and as test oracles.

Cell coverings (`polygon_cover_cells`) replace shapely STRtree
pre-filtering: the covering is exploded to rows and broadcast, so the
big-side join is a plain equi-join on ``cell_id``.
No shapely/geos anywhere — pure numpy + Catalyst (sandbox constraint and
a deliberate zero-native-deps choice for ``spark-submit --py-files``).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eodal_spark import grid
from eodal_spark.session import local_frame

# ---------------------------------------------------------------------------
# Layer construction
# ---------------------------------------------------------------------------

POLY_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType(), False),
        # exterior ring of part 0 — the convex fast path and the legacy
        # convex oracles read these
        T.StructField("xs", T.ArrayType(T.DoubleType()), False),
        T.StructField("ys", T.ArrayType(T.DoubleType()), False),
        # ALL rings (every part's exterior + holes).  Membership for
        # multi-part / holed geometries is even-odd parity over the union
        # of ring edges — exactly correct for valid (Multi)Polygons.
        T.StructField("rings_x", T.ArrayType(T.ArrayType(T.DoubleType())), False),
        T.StructField("rings_y", T.ArrayType(T.ArrayType(T.DoubleType())), False),
        T.StructField("xmin", T.DoubleType(), False),
        T.StructField("ymin", T.DoubleType(), False),
        T.StructField("xmax", T.DoubleType(), False),
        T.StructField("ymax", T.DoubleType(), False),
        # single-ring convex only — gates the zero-Python Catalyst PIP
        T.StructField("is_convex", T.BooleanType(), False),
    ]
)


def _signed_area(xs: np.ndarray, ys: np.ndarray) -> float:
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    return float(np.sum(xs * y2 - x2 * ys) / 2.0)


def _is_convex(xs: np.ndarray, ys: np.ndarray) -> bool:
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    x2, y2 = np.roll(xs, -2), np.roll(ys, -2)
    cross = (x1 - xs) * (y2 - y1) - (y1 - ys) * (x2 - x1)
    return bool(np.all(cross >= 0) or np.all(cross <= 0))


# ---------------------------------------------------------------------------
# WKT / WKB parsing (pure Python — no shapely/geos in the sandbox;
# mirrors the reference's WKT round-trips, `eodal/mapper/feature.py:130-194`)
# ---------------------------------------------------------------------------

import re as _re
import struct as _struct

_WKT_HEAD = _re.compile(r"\s*(\w+)\s*(Z|M|ZM)?\s*(EMPTY|\()", _re.IGNORECASE)


def _wkt_split_groups(body: str) -> list[str]:
    """Split a parenthesized WKT body into its top-level (...) groups."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    return groups


def _wkt_coords(text: str) -> list[tuple[float, float]]:
    """Parse 'x y[ z[ m]], x y, ...' → [(x, y), ...] (z/m flattened,
    ≡ the reference's 2-D flattening, `eodal/core/utils/geometry.py:106-136`)."""
    pts = []
    for tok in text.split(","):
        parts = tok.split()
        pts.append((float(parts[0]), float(parts[1])))
    return pts


def parse_wkt(wkt: str) -> tuple[str, list]:
    """Parse a WKT string → (geom_type, coords).

    geom_type is upper-case without the Z/M suffix.  coords nesting:
      POINT        → [(x, y)]
      MULTIPOINT   → [(x, y), ...]
      LINESTRING   → [(x, y), ...]
      POLYGON      → [ring, ...]           (ring = [(x, y), ...], first = exterior)
      MULTIPOLYGON → [[ring, ...], ...]    (one ring-list per part)
    Z/M ordinates are flattened away.  EMPTY → empty coords.
    """
    m = _WKT_HEAD.match(wkt)
    if not m:
        raise ValueError(f"unparseable WKT: {wkt[:60]!r}")
    gtype = m.group(1).upper()
    if m.group(3).upper() == "EMPTY":
        return gtype, []
    body = wkt[m.end() - 1 :]  # from the opening paren
    inner = _wkt_split_groups(body)[0]
    if gtype == "POINT":
        return gtype, _wkt_coords(inner)
    if gtype == "LINESTRING":
        return gtype, _wkt_coords(inner)
    if gtype == "MULTIPOINT":
        # both "((1 2), (3 4))" and "(1 2, 3 4)" forms
        if "(" in inner:
            return gtype, [
                _wkt_coords(g)[0] for g in _wkt_split_groups(inner)
            ]
        return gtype, _wkt_coords(inner)
    if gtype == "POLYGON":
        return gtype, [_wkt_coords(g) for g in _wkt_split_groups(inner)]
    if gtype == "MULTIPOLYGON":
        return gtype, [
            [_wkt_coords(g) for g in _wkt_split_groups(part)]
            for part in _wkt_split_groups(inner)
        ]
    raise ValueError(f"unsupported WKT type: {gtype}")


def to_wkt(gtype: str, coords: list) -> str:
    """Inverse of `parse_wkt` for POINT/MULTIPOINT/POLYGON/MULTIPOLYGON."""

    def _pt(p):
        # repr() is the shortest string that round-trips the double —
        # %g would truncate to 6 significant digits and corrupt coords
        def num(v):
            r = repr(float(v))
            return r[:-2] if r.endswith(".0") else r

        return f"{num(p[0])} {num(p[1])}"

    def _ring(r):
        pts = list(r)
        if pts[0] != pts[-1]:
            pts.append(pts[0])  # WKT rings are closed
        return "(" + ", ".join(_pt(p) for p in pts) + ")"

    gtype = gtype.upper()
    if gtype == "POINT":
        return f"POINT ({_pt(coords[0])})"
    if gtype == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"({_pt(p)})" for p in coords) + ")"
    if gtype == "POLYGON":
        return "POLYGON (" + ", ".join(_ring(r) for r in coords) + ")"
    if gtype == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "(" + ", ".join(_ring(r) for r in part) + ")" for part in coords
            )
            + ")"
        )
    raise ValueError(f"unsupported WKT type: {gtype}")


# WKB geometry-type codes (OGC); Z/M encoded as +1000/+2000 (ISO) or the
# EWKB 0x80000000/0x40000000 flag bits — both accepted, ordinates dropped.
_WKB_NAMES = {1: "POINT", 2: "LINESTRING", 3: "POLYGON",
              4: "MULTIPOINT", 5: "MULTILINESTRING", 6: "MULTIPOLYGON"}


def parse_wkb(buf: bytes) -> tuple[str, list]:
    """Parse WKB/EWKB bytes → (geom_type, coords) with `parse_wkt` nesting."""

    def rd(off):
        bo = "<" if buf[off] == 1 else ">"
        code = _struct.unpack_from(bo + "I", buf, off + 1)[0]
        ndim = 2
        if code & 0x80000000:
            ndim += 1
        if code & 0x40000000:
            ndim += 1
        if code & 0x20000000:  # EWKB SRID flag
            srid_skip = 4
        else:
            srid_skip = 0
        base = code & 0xFF
        if code & ~0xE0000000 >= 1000:  # ISO Z/M offsets
            iso = (code & ~0xE0000000)
            base = iso % 1000
            ndim = 2 + (iso // 1000 in (1, 3)) + (iso // 1000 in (2, 3))
        off = off + 5 + srid_skip
        return bo, base, ndim, off

    def rd_pts(bo, ndim, off, n):
        vals = _struct.unpack_from(bo + "d" * (ndim * n), buf, off)
        pts = [(vals[i * ndim], vals[i * ndim + 1]) for i in range(n)]
        return pts, off + 8 * ndim * n

    def rd_geom(off):
        bo, base, ndim, off = rd(off)
        name = _WKB_NAMES.get(base)
        if name == "POINT":
            pts, off = rd_pts(bo, ndim, off, 1)
            return name, pts, off
        if name == "LINESTRING":
            n = _struct.unpack_from(bo + "I", buf, off)[0]
            pts, off = rd_pts(bo, ndim, off + 4, n)
            return name, pts, off
        if name == "POLYGON":
            nring = _struct.unpack_from(bo + "I", buf, off)[0]
            off += 4
            rings = []
            for _ in range(nring):
                n = _struct.unpack_from(bo + "I", buf, off)[0]
                pts, off = rd_pts(bo, ndim, off + 4, n)
                rings.append(pts)
            return name, rings, off
        if name in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON"):
            n = _struct.unpack_from(bo + "I", buf, off)[0]
            off += 4
            parts = []
            for _ in range(n):
                _, coords, off = rd_geom(off)
                parts.append(coords)
            if name == "MULTIPOINT":
                return name, [p[0] for p in parts], off
            return name, parts, off
        raise ValueError(f"unsupported WKB geometry code {base}")

    name, coords, _ = rd_geom(0)
    return name, coords


def _as_parts(geom) -> list[list[list[tuple[float, float]]]]:
    """Normalize any polygonal input to parts → rings → (x, y).

    Accepts a WKT string, WKB bytes, a bare ring [(x, y), ...], a ring
    list [exterior, hole, ...], or a full parts structure."""
    if isinstance(geom, str):
        gtype, coords = parse_wkt(geom)
        if gtype == "POLYGON":
            return [coords]
        if gtype == "MULTIPOLYGON":
            return coords
        raise ValueError(f"not a polygonal WKT: {gtype}")
    if isinstance(geom, (bytes, bytearray, memoryview)):
        gtype, coords = parse_wkb(bytes(geom))
        if gtype == "POLYGON":
            return [coords]
        if gtype == "MULTIPOLYGON":
            return coords
        raise ValueError(f"not a polygonal WKB: {gtype}")
    seq = list(geom)
    first = seq[0]
    if isinstance(first[0], (int, float)):          # bare ring
        return [[seq]]
    if isinstance(first[0][0], (int, float)):       # [exterior, hole, ...]
        return [seq]
    return [list(p) for p in seq]                   # parts


def _clean_ring(ring) -> tuple[np.ndarray, np.ndarray]:
    """Drop z, strip the closing vertex, normalize to CCW."""
    pts = [(float(p[0]), float(p[1])) for p in ring]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    if _signed_area(xs, ys) < 0:
        xs, ys = xs[::-1], ys[::-1]
    return xs, ys


def polygons_df(
    spark: SparkSession,
    polys: Iterable[tuple[int, object]],
    attrs: dict[int, dict] | None = None,
) -> DataFrame:
    """Build a polygon-layer DataFrame.

    Each entry is ``(poly_id, geom)`` where geom is a bare exterior ring
    ``[(x, y), ...]`` (legacy form), a ring list ``[exterior, hole, ...]``,
    a parts structure (MultiPolygon), a WKT string, or WKB bytes — holes
    and multi-part geometries are first-class, matching the reference's
    arbitrary-shapely handling (`eodal/mapper/feature.py:130-194`,
    `eodal/core/band.py:1058-1072`).

    Rings are CCW-normalized and 3-D inputs flattened (≡
    `eodal/core/utils/geometry.py:106-136`).  This is a *dimension
    table* — small by construction, meant to be broadcast
    (`F.broadcast`) into the page-side join.  It is a `local_frame`
    (a ``LocalRelation``), so planners read its rows and exact size
    from the plan without running a job, also after a filter or join.
    ``attrs`` maps ``poly_id`` to extra attribute columns; a polygon
    without an entry gets NULLs.
    """
    rows = []
    for poly_id, geom in polys:
        parts = _as_parts(geom)
        rings_x, rings_y = [], []
        for part in parts:
            for ring in part:
                xs, ys = _clean_ring(ring)
                rings_x.append(xs)
                rings_y.append(ys)
        ext_x, ext_y = rings_x[0], rings_y[0]
        all_x = np.concatenate(rings_x)
        all_y = np.concatenate(rings_y)
        convex = len(rings_x) == 1 and _is_convex(ext_x, ext_y)
        rows.append(
            (
                int(poly_id),
                ext_x.tolist(),
                ext_y.tolist(),
                [r.tolist() for r in rings_x],
                [r.tolist() for r in rings_y],
                float(all_x.min()),
                float(all_y.min()),
                float(all_x.max()),
                float(all_y.max()),
                convex,
            )
        )
    if not attrs:
        return local_frame(spark, rows, POLY_SCHEMA)
    # attribute columns ride on the same rows (NULL where a polygon has
    # no entry), typed as Spark infers them from the attribute values
    attr_keys = sorted({k for a in attrs.values() for k in a})
    by_id = {int(pid): a for pid, a in attrs.items()}
    attr_schema = spark._inferSchemaFromList(
        [(pid, *[a.get(k) for k in attr_keys]) for pid, a in by_id.items()],
        names=["poly_id", *attr_keys],
    )
    return local_frame(
        spark,
        [(*r, *[by_id.get(r[0], {}).get(k) for k in attr_keys]) for r in rows],
        T.StructType(POLY_SCHEMA.fields + attr_schema.fields[1:]),
    )


def boxes_df(
    df: DataFrame,
    id_col: str = "poly_id",
    xmin: str = "xmin",
    ymin: str = "ymin",
    xmax: str = "xmax",
    ymax: str = "ymax",
) -> DataFrame:
    """Axis-aligned box layer from bbox *columns* — the fully native
    big-layer constructor: 10⁸ parcel/tile bboxes already sitting in a
    relation become a POLY_SCHEMA polygon layer with ONE projection (no
    driver-side list, no Python stage — unlike :func:`polygons_df`,
    which materializes the layer on the driver and is meant for small
    dimension layers).  Rings are emitted CCW (the engine's pinned
    orientation, ≡ `eodal/core/utils/geometry.py:106-136`
    normalization) and boxes are convex by construction, so the
    zero-Python Catalyst PIP fast path applies downstream.

    Inverted bounds (xmin > xmax / ymin > ymax) are NORMALIZED with
    least/greatest: a reversed box is still an unambiguous box, but
    emitting its ring verbatim would be CLOCKWISE — breaking the pinned
    CCW orientation the convex PIP fast path assumes and silently
    producing empty covers.  Normalization keeps the constructor fully
    native (no validation job) while guaranteeing the orientation
    invariant for every input."""
    x_lo = F.least(F.col(xmin).cast("double"), F.col(xmax).cast("double"))
    x_hi = F.greatest(F.col(xmin).cast("double"), F.col(xmax).cast("double"))
    y_lo = F.least(F.col(ymin).cast("double"), F.col(ymax).cast("double"))
    y_hi = F.greatest(F.col(ymin).cast("double"), F.col(ymax).cast("double"))
    xs = F.array(x_lo, x_hi, x_hi, x_lo)
    ys = F.array(y_lo, y_lo, y_hi, y_hi)
    return df.select(
        F.col(id_col).cast("long").alias("poly_id"),
        xs.alias("xs"),
        ys.alias("ys"),
        F.array(xs).alias("rings_x"),
        F.array(ys).alias("rings_y"),
        x_lo.alias("xmin"),
        y_lo.alias("ymin"),
        x_hi.alias("xmax"),
        y_hi.alias("ymax"),
        F.lit(True).alias("is_convex"),
    )


def explode_multipoints(df: DataFrame, xs_col: str = "mxs", ys_col: str = "mys") -> DataFrame:
    """MultiPoint → single-part points (≡ multi_to_single_points,
    `eodal/core/utils/geometry.py:139-154`): a row carrying coordinate
    arrays explodes into one row per vertex with ``lon``/``lat``
    columns — native posexplode, no UDF."""
    z = F.arrays_zip(F.col(xs_col), F.col(ys_col))
    out = df.withColumn("_pt", F.explode(z))
    return (
        out.withColumn("lon", F.col(f"_pt.{xs_col}"))
        .withColumn("lat", F.col(f"_pt.{ys_col}"))
        .drop("_pt", xs_col, ys_col)
    )


# ---------------------------------------------------------------------------
# Point-in-polygon kernels
# ---------------------------------------------------------------------------

def pip_convex(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Boundary-inclusive convex PIP as a native Column expression.

    For a CCW ring, point is inside-or-on-boundary iff every edge cross
    product ``(x2-x1)*(py-y1) - (y2-y1)*(px-x1)`` is >= 0, i.e. the
    minimum over edges is >= 0.  Entirely Catalyst → codegen; this is the
    hot-path replacement for the reference's per-pixel mask loop
    (`eodal/core/band.py:1716-1720`).
    """
    n = F.size(xs)
    idx = F.sequence(F.lit(1), n)  # element_at is 1-based

    def cross(i: Column) -> Column:
        j = F.pmod(i, n) + F.lit(1)  # wrap to first vertex
        x1, y1 = F.element_at(xs, i), F.element_at(ys, i)
        x2, y2 = F.element_at(xs, j), F.element_at(ys, j)
        return (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)

    min_cross = F.aggregate(
        idx, F.lit(float("inf")), lambda acc, i: F.least(acc, cross(i))
    )
    return min_cross >= F.lit(0.0)


def sql_pip_convex(px: str, py: str, xs: str, ys: str, dialect: str) -> str:
    """The same convex PIP as a SQL string — Spark and DuckDB dialects —
    so the DuckDB oracle can verify the join row-for-row."""
    if dialect == "spark":
        return (
            f"aggregate(sequence(1, size({xs})), cast('Infinity' as double), "
            f"(acc, i) -> least(acc, "
            f"(element_at({xs}, pmod(i, size({xs})) + 1) - element_at({xs}, i)) * ({py} - element_at({ys}, i)) "
            f"- (element_at({ys}, pmod(i, size({xs})) + 1) - element_at({ys}, i)) * ({px} - element_at({xs}, i))"
            f")) >= 0.0"
        )
    if dialect == "duckdb":
        return (
            f"list_aggregate(list_transform(generate_series(1, len({xs})), i -> "
            f"CASE WHEN ("
            f"({xs}[(i % len({xs})) + 1] - {xs}[i]) * ({py} - {ys}[i]) "
            f"- ({ys}[(i % len({xs})) + 1] - {ys}[i]) * ({px} - {xs}[i])"
            f") >= 0.0 THEN 1 ELSE 0 END), 'min') = 1"
        )
    raise ValueError(dialect)


def np_pip_convex(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Vectorized numpy oracle for `pip_convex` (points × one CCW ring)."""
    x1 = xs[:, None]
    y1 = ys[:, None]
    x2 = np.roll(xs, -1)[:, None]
    y2 = np.roll(ys, -1)[:, None]
    cross = (x2 - x1) * (py[None, :] - y1) - (y2 - y1) * (px[None, :] - x1)
    return np.all(cross >= 0.0, axis=0)


def np_pip_even_odd(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """General even-odd ray-casting PIP (handles concave rings).

    Vectorized over points; used inside Arrow-batched refinement UDFs.
    Boundary behaviour follows the standard half-open edge rule; tests
    keep query points off exact boundaries (documented limitation).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    n = len(xs)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xint)
        j = i
    return inside


def pip_even_odd_rings(
    px: Column, py: Column, rings_x: Column, rings_y: Column
) -> Column:
    """Multi-ring even-odd PIP as a **native Column expression** — the
    concave/holed/multi-part twin of `pip_convex`: crossing-parity over
    every edge of every ring, entirely Catalyst (nested higher-order
    aggregates) → whole-stage codegen, zero Python in the refine stage.

    Identical float op order to `np_pip_even_odd` (edge = current i,
    previous j; ``xint = (xj - xi) * (py - yi) / (yj - yi) + xi``) so the
    numpy oracle and the DuckDB SQL twin agree bit-for-bit."""

    def ring_crossings(racc: Column, r: Column) -> Column:
        x = F.element_at(rings_x, r)
        y = F.element_at(rings_y, r)
        n = F.size(x)

        def edge(acc: Column, i: Column) -> Column:
            j = F.when(i == 1, n).otherwise(i - 1)
            ix, iy = F.element_at(x, i), F.element_at(y, i)
            jx, jy = F.element_at(x, j), F.element_at(y, j)
            cond = ((iy > py) != (jy > py)) & (
                px < (jx - ix) * (py - iy) / (jy - iy) + ix
            )
            return acc + F.when(cond, F.lit(1)).otherwise(F.lit(0))

        return racc + F.aggregate(F.sequence(F.lit(1), n), F.lit(0), edge)

    total = F.aggregate(
        F.sequence(F.lit(1), F.size(rings_x)), F.lit(0), ring_crossings
    )
    return F.pmod(total, F.lit(2)) == F.lit(1)


def np_pip_even_odd_rings(
    px: np.ndarray, py: np.ndarray, rings_x: Sequence, rings_y: Sequence
) -> np.ndarray:
    """Even-odd PIP over a set of rings (all parts' exteriors + holes).

    XOR of per-ring parity ≡ even-odd over the union of edges — exactly
    correct membership for valid holed Polygons and MultiPolygons (the
    reference delegates this to shapely/rasterio geometry handling,
    `eodal/core/band.py:1058-1072`)."""
    inside = np.zeros(np.asarray(px).shape, dtype=bool)
    for rx, ry in zip(rings_x, rings_y):
        inside ^= np_pip_even_odd(
            px, py, np.asarray(rx, dtype=np.float64), np.asarray(ry, dtype=np.float64)
        )
    return inside


def sql_pip_even_odd_rings(
    px: str, py: str, rings_x: str, rings_y: str, dialect: str
) -> str:
    """Multi-ring even-odd PIP as SQL (Spark and DuckDB dialects).

    Counts ray crossings over every edge of every ring; odd total parity
    = inside.  The crossing test uses the *identical float op order* as
    `np_pip_even_odd` — edge (current i, previous j),
    ``xint = (xj - xi) * (py - yi) / (yj - yi) + xi`` — so the numpy
    refinement UDF, this Spark expression and the DuckDB oracle agree
    bit-for-bit (IEEE doubles, same ops, same order)."""
    if dialect == "spark":
        rx, ry = rings_x, rings_y
        # per-ring arrays bound via nested lambdas; j = previous vertex
        x = f"element_at({rx}, r)"
        y = f"element_at({ry}, r)"
        jx = f"element_at({x}, IF(i = 1, size({x}), i - 1))"
        jy = f"element_at({y}, IF(i = 1, size({x}), i - 1))"
        ix = f"element_at({x}, i)"
        iy = f"element_at({y}, i)"
        edge = (
            f"CASE WHEN (({iy} > {py}) != ({jy} > {py})) "
            f"AND {px} < ({jx} - {ix}) * ({py} - {iy}) / ({jy} - {iy}) + {ix} "
            f"THEN 1L ELSE 0L END"
        )
        return (
            f"pmod(aggregate(sequence(1, size({rx})), 0L, (racc, r) -> racc + "
            f"aggregate(sequence(1, size({x})), 0L, (acc, i) -> acc + ({edge}))"
            f"), 2) = 1"
        )
    if dialect == "duckdb":
        rx, ry = rings_x, rings_y
        edge = (
            f"CASE WHEN (({ry}[r][i] > {py}) != "
            f"({ry}[r][CASE WHEN i = 1 THEN len({rx}[r]) ELSE i - 1 END] > {py})) "
            f"AND {px} < ({rx}[r][CASE WHEN i = 1 THEN len({rx}[r]) ELSE i - 1 END] - {rx}[r][i]) "
            f"* ({py} - {ry}[r][i]) "
            f"/ ({ry}[r][CASE WHEN i = 1 THEN len({rx}[r]) ELSE i - 1 END] - {ry}[r][i]) "
            f"+ {rx}[r][i] THEN 1 ELSE 0 END"
        )
        return (
            f"list_aggregate(list_transform(generate_series(1, len({rx})), r -> "
            f"list_aggregate(list_transform(generate_series(1, len({rx}[r])), i -> {edge}), 'sum')"
            f"), 'sum') % 2 = 1"
        )
    raise ValueError(dialect)


# ---------------------------------------------------------------------------
# Polygon → covering cells (the broadcast pre-filter)
# ---------------------------------------------------------------------------

# per-polygon covering-size guard: a continent-sized polygon at a fine
# resolution would explode into billions of covering cells — fail fast
# with the fix (coarser join res / split the polygon) instead of OOMing
MAX_COVER_CELLS_PER_POLY = 2_000_000


def _bbox_corners(xmin, ymin, xmax, ymax, res: int):
    """Integer cell-coordinate corners of one bbox (no materialization)."""
    x0, _ = grid.np_cell_xy(np.array([xmin]), np.array([0.0]), res)
    x1, _ = grid.np_cell_xy(np.array([xmax]), np.array([0.0]), res)
    _, y0 = grid.np_cell_xy(np.array([0.0]), np.array([ymin]), res)
    _, y1 = grid.np_cell_xy(np.array([0.0]), np.array([ymax]), res)
    return int(x0[0]), int(x1[0]), int(y0[0]), int(y1[0])


def _bbox_grid(corners):
    """Materialize the (gx, gy) candidate grid of precomputed corners."""
    x0, x1, y0, y1 = corners
    cx = np.arange(x0, x1 + 1, dtype=np.int64)
    cy = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(cx, cy, indexing="ij")
    return gx.ravel(), gy.ravel()


def _cover_one(row, res: int, mode: str):
    """Covering cells of one polygon (numpy): (cell_ids, full_flags).

    Candidates come from the union of **per-ring** bboxes, not one
    global bbox: a MultiPolygon with far-apart parts (e.g. split at the
    date line) covers only its parts' neighborhoods, never the span
    between them.  Correct because any point of the polygon lies inside
    some ring's bbox (holes sit inside their exterior's bbox)."""
    n = 1 << res
    xs = np.asarray(row.xs, dtype=np.float64)
    ys = np.asarray(row.ys, dtype=np.float64)
    if row.is_convex:
        ring_boxes = [(row.xmin, row.ymin, row.xmax, row.ymax)]
    else:
        ring_boxes = [
            (min(rx), min(ry), max(rx), max(ry))
            for rx, ry in zip(row.rings_x, row.rings_y)
        ]
    # size check from corner arithmetic ALONE, before any grid exists —
    # a near-global polygon at a fine res must raise the actionable
    # error, not OOM inside meshgrid
    corners = [
        _bbox_corners(bx0, by0, bx1, by1, res)
        for bx0, by0, bx1, by1 in ring_boxes
    ]
    n_cand = sum((x1 - x0 + 1) * (y1 - y0 + 1) for x0, x1, y0, y1 in corners)
    if n_cand > MAX_COVER_CELLS_PER_POLY:
        raise ValueError(
            f"polygon {row.poly_id} would cover {n_cand:,} candidate "
            f"cells at res {res} (> {MAX_COVER_CELLS_PER_POLY:,}); use a "
            f"coarser join resolution or split the polygon"
        )
    parts = [_bbox_grid(c) for c in corners]
    gx = np.concatenate([p[0] for p in parts])
    gy = np.concatenate([p[1] for p in parts])
    if len(ring_boxes) > 1:  # overlapping ring bboxes → dedup candidates
        packed = np.unique((gx << 29) | gy)
        gx, gy = packed >> 29, packed & ((1 << 29) - 1)
    clon = (gx + 0.5) / n * 360.0 - 180.0
    clat = (gy + 0.5) / n * 180.0 - 90.0
    if row.is_convex:
        centroid_in = np_pip_convex(clon, clat, xs, ys)
        half_x, half_y = 180.0 / n, 90.0 / n
        full = np.ones(gx.shape, dtype=bool)
        for sx in (-half_x, half_x):
            for sy in (-half_y, half_y):
                full &= np_pip_convex(clon + sx, clat + sy, xs, ys)
    else:
        # concave / holed / multi-part: even-odd parity over all rings;
        # no full-cell shortcut (a hole could sit entirely inside a cell)
        centroid_in = np_pip_even_odd_rings(clon, clat, row.rings_x, row.rings_y)
        full = np.zeros(gx.shape, dtype=bool)
    keep = centroid_in if mode == "centroid" else np.ones(gx.shape, dtype=bool)
    cell = (np.int64(res) << 58) | (gx[keep] << 29) | gy[keep]
    return cell, full[keep]


def buffer_cells(cover: DataFrame, k: int, res: int) -> DataFrame:
    """Grid-native buffer: Minkowski sum of a (poly_id, cell_id)
    covering with the k-cell Chebyshev disk — the engine's analogue of
    shapely ``buffer`` padding an AOI before clipping (the reference
    buffers vector features ahead of `band.py:758-775` mask reads).
    Longitude wraps, latitude clamps (`grid.cell_ring`); output is
    deduped per polygon.  Stays a broadcastable dimension: it grows the
    covering by O(k·perimeter), never touches the pages side."""
    from eodal_spark import grid

    grown = cover.select(
        "poly_id", F.explode(grid.cell_ring("cell_id", k, res)).alias("cell_id")
    )
    return grown.dropDuplicates(["poly_id", "cell_id"])


# polygon layers up to this size are covered driver-side (one tiny
# collect of an already-small dimension) — avoids paying Python-worker
# startup on the query's critical path; larger layers distribute.
DRIVER_COVER_MAX_POLYS = 10_000


def polygon_cover_cells(
    polys: DataFrame, res: int, mode: str = "centroid"
) -> DataFrame:
    """Explode each polygon into its covering cells at resolution ``res``.

    mode="centroid": cells whose **centroid** lies in the polygon
      (boundary-inclusive) — exact for the engine's pinned membership
      rule (FIXTURES.md §5; analogue of rasterize
      `eodal/core/band.py:1058-1072`).
    mode="bbox": every cell intersecting the polygon's bbox — a superset
      used as the coarse stage before exact point-level PIP refinement.

    Output: (poly_id, cell_id, full) where ``full`` marks cells whose 4
    corners are all inside (convex polygons only) — downstream exact
    joins skip PIP refinement for full cells.

    Small layers (≤ `DRIVER_COVER_MAX_POLYS`) are covered **driver-side**
    and the cover becomes a `local_frame` (a ``LocalRelation`` with
    exact stats — no Python stage on the critical path).  Large layers
    run as `mapInPandas` (Arrow-batched, distributed); the per-polygon
    cost is O(bbox cells) either way, independent of the pages table.
    """
    out_schema = T.StructType(
        [
            T.StructField("poly_id", T.LongType(), False),
            T.StructField("cell_id", T.LongType(), False),
            T.StructField("full", T.BooleanType(), False),
        ]
    )
    cols = [
        "poly_id", "xs", "ys", "rings_x", "rings_y",
        "xmin", "ymin", "xmax", "ymax", "is_convex",
    ]

    # ONE bounded probe decides AND fetches: collect up to MAX+1 rows —
    # small layers keep them (the driver-side cover needs them anyway),
    # large layers fall through to mapInPandas.  On a layer built by
    # polygons_df (a LocalRelation) the collect runs no job at all.
    # Deliberately NO coalesce(1): on an RDD-backed plan coalescing
    # makes one task re-evaluate every parent partition through a
    # single Python worker — measured 5-6 s for a 4-row layer vs <1 s
    # for executeTake.  With the session's
    # spark.sql.limit.initialNumPartitions (session.py) the first take
    # round already spans a small layer's partitions, so this is ONE
    # job in the common case and stays O(MAX) rows per partition
    # (LocalLimit) for huge layers.
    rows = polys.select(*cols).limit(DRIVER_COVER_MAX_POLYS + 1).collect()
    if len(rows) <= DRIVER_COVER_MAX_POLYS:
        out = []
        for row in rows:
            cell, full = _cover_one(row, res, mode)
            out.extend(
                (int(row.poly_id), int(c), bool(f)) for c, f in zip(cell, full)
            )
        return local_frame(polys.sparkSession, out, out_schema)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_pid, out_cell, out_full = [], [], []
            for row in pdf.itertuples(index=False):
                cell, full = _cover_one(row, res, mode)
                out_pid.append(np.full(cell.shape, row.poly_id, dtype=np.int64))
                out_cell.append(cell)
                out_full.append(full)
            if out_pid:
                yield pd.DataFrame(
                    {
                        "poly_id": np.concatenate(out_pid),
                        "cell_id": np.concatenate(out_cell),
                        "full": np.concatenate(out_full),
                    }
                )

    return polys.select(*cols).mapInPandas(gen, out_schema)
