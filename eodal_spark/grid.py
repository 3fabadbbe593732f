"""Hierarchical discrete global grid (DGG) — the engine's `GeoInfo`.

The reference addresses pixels through an affine grid
(`eodal/core/band.py:151-256` ``GeoInfo``: epsg/ulx/uly/pixres ≡ affine
transform; `as_affine()` band.py:231-240).  The Spark engine replaces the
per-scene affine grid with ONE global, CRS-free, hierarchical grid:

* resolution ``r`` divides the world into ``2^r × 2^r`` equal-angle cells
  (equirectangular).  ``r`` plays the role of ``pixres``
  (`band.py:1771-1948` resample ≡ moving between resolutions);
* a cell is identified by a single ``long``::

      cell_id = (res << 58) | (x << 29) | y      0 <= res <= 28

  so cell ids sort by (res, x, y) — sorting/partitioning a table by
  ``cell_id`` co-locates spatial neighbours in the same data files, which
  is what makes min/max footer stats prune spatially (the layout decision
  called out in SURVEY.md §4).

Everything here is **pure Catalyst Column arithmetic** — no UDF at all on
the hot path, so cell encoding stays inside whole-stage codegen.  An
Arrow-vectorized pandas-UDF variant (`cell_encode_arrow`) exists for API
parity with the batched-encoding contract and for kernels that need
numpy anyway; a numpy reference (`np_cell_encode`) backs the test oracles.

Design note (no external geo libs): the sandbox has neither h3 nor s2
bindings, and an equal-angle quadtree grid has the same algebraic
structure (parent = bit shift, children = bit append, ring = ±dx/±dy)
while being exactly reproducible in ANSI SQL for the DuckDB oracle —
a property H3's icosahedral math does not have.  At 10^12-row scale the
grid choice only changes the cell-area distribution, not the plan shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 28
_RES_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1

# Powers used when generating dialect-portable SQL (no shift operators).
_P_RES = 1 << _RES_SHIFT
_P_X = 1 << _X_SHIFT


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Native Column path (whole-stage codegen — the hot path)
# ---------------------------------------------------------------------------

def cell_x(lon, res: int) -> Column:
    """Grid x index of a longitude at resolution ``res`` (clamped)."""
    n = 1 << res
    raw = F.floor((_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def cell_y(lat, res: int) -> Column:
    """Grid y index of a latitude at resolution ``res`` (clamped)."""
    n = 1 << res
    raw = F.floor((_col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def pack_cell(x: Column, y: Column, res: int) -> Column:
    """Pack (x, y, res) into the 64-bit cell id."""
    return (
        F.lit(res << _RES_SHIFT)
        + F.shiftleft(x.cast("long"), _X_SHIFT)
        + y.cast("long")
    ).cast("long")


def cell_encode(lon, lat, res: int) -> Column:
    """lon/lat (double degrees) → cell_id at resolution ``res``.

    Replaces the reference's coords→row/col affine math
    (`eodal/core/utils/raster.py:70-104` bounds_window and
    `band.py:1431-1454` nearest-cell snap).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return pack_cell(cell_x(lon, res), cell_y(lat, res), res)


def cell_x_of(cell) -> Column:
    return F.shiftrightunsigned(_col(cell), _X_SHIFT).bitwiseAND(F.lit(_XY_MASK))


def cell_y_of(cell) -> Column:
    return _col(cell).bitwiseAND(F.lit(_XY_MASK))


def cell_centroid_lon(cell, res: int) -> Column:
    n = 1 << res
    return (cell_x_of(cell).cast("double") + F.lit(0.5)) / F.lit(float(n)) * F.lit(
        360.0
    ) - F.lit(180.0)


def cell_centroid_lat(cell, res: int) -> Column:
    n = 1 << res
    return (cell_y_of(cell).cast("double") + F.lit(0.5)) / F.lit(float(n)) * F.lit(
        180.0
    ) - F.lit(90.0)


def cell_parent(cell, res: int, parent_res: int) -> Column:
    """Coarsen a cell from ``res`` to ``parent_res`` — ≡ downsampling
    `Band.resample` to a coarser pixres (`eodal/core/band.py:1771-1860`).
    Pure bit shifts, whole-stage codegen."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    dr = res - parent_res
    c = _col(cell)
    x = F.shiftrightunsigned(cell_x_of(c).cast("long"), dr)
    y = F.shiftrightunsigned(cell_y_of(c).cast("long"), dr)
    return (
        F.lit(parent_res << _RES_SHIFT) + F.shiftleft(x, _X_SHIFT) + y
    ).cast("long")


def cell_children(cell, res: int, child_res: int) -> Column:
    """Array of all child cells at a finer resolution — ≡ upsampling
    resample / pixel-division (`eodal/utils/arrays.py:66-109`); the caller
    `explode()`s it (value carry-down to children)."""
    if child_res < res:
        raise ValueError("child_res must be >= res")
    c = _col(cell)
    dr = child_res - res
    k = F.lit(1 << dr).cast("long")  # 2^dr children per axis
    bx = F.shiftleft(cell_x_of(c).cast("long"), dr)
    by = F.shiftleft(cell_y_of(c).cast("long"), dr)
    base = F.lit(child_res << _RES_SHIFT)
    # flatten(transform(0..k-1, dx -> transform(0..k-1, dy -> id)))
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0).cast("long"), k - 1),
            lambda dx: F.transform(
                F.sequence(F.lit(0).cast("long"), k - 1),
                lambda dy: base
                + F.shiftleft(bx + dx, _X_SHIFT)
                + (by + dy),
            ),
        )
    )


def cell_ring(cell, k, res: int) -> Column:
    """All cells within Chebyshev distance ``k`` (the (2k+1)² block),
    longitude-wrapping in x, clamped in y.  The building block of the
    ring-expansion kNN (generalizes the reference's argmin nearest-cell
    snap, `eodal/core/band.py:1431-1454`, to k>1).  Returns array<long>.

    ``k`` may be an int (uniform radius) or a Column (PER-ROW radius —
    the adaptive-escalation kNN gives each unresolved query its own
    next radius, so one ring pass serves heterogeneous disks)."""
    c = _col(cell)
    n = 1 << res
    x = cell_x_of(c)
    y = cell_y_of(c)
    kc = k if isinstance(k, Column) else F.lit(int(k))
    kc = kc.cast("int")
    base = F.lit(res << _RES_SHIFT)
    ids = F.flatten(
        F.transform(
            F.sequence(-kc, kc),
            lambda dx: F.transform(
                F.sequence(-kc, kc),
                lambda dy: F.when(
                    (y + dy >= 0) & (y + dy < n),
                    base
                    + F.shiftleft(F.pmod(x + dx, F.lit(n)).cast("long"), _X_SHIFT)
                    + (y + dy).cast("long"),
                ),
            ),
        )
    )
    return F.array_distinct(F.filter(ids, lambda v: v.isNotNull()))


def _spread_bits(v: Column) -> Column:
    """Spread the low 29 bits of a long so bit i lands at position 2i
    (magic-number interleave, all native bit ops → codegen)."""
    masks = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    out = v.cast("long").bitwiseAND(F.lit(_XY_MASK))
    for sh, m in masks:
        out = out.bitwiseOR(F.shiftleft(out, sh)).bitwiseAND(F.lit(m))
    return out


def cell_morton(cell) -> Column:
    """Z-order (Morton) key of a cell: x/y bits interleaved.

    The storage-layout key for spatial locality — sorting/range-
    partitioning a 100 TB table by Morton instead of the concatenated
    (x, y) cell id keeps bbox queries inside a handful of contiguous
    key ranges (and therefore files/row-groups), where an x-major sort
    stripes every bbox across the whole table.  Pure bit arithmetic,
    zero Python — the engine's answer to the reference's COG tiling
    layout (`eodal/core/band.py:2263-2303`)."""
    c = _col(cell)
    return _spread_bits(cell_x_of(c)).bitwiseOR(
        F.shiftleft(_spread_bits(cell_y_of(c)), 1)
    )


def zorder_key_2d(
    a: Column,
    b: Column,
    a_min: float,
    a_max: float,
    b_min: float,
    b_max: float,
    bits: int = 16,
) -> Column:
    """Generic 2-D Z-order key over arbitrary NUMERIC columns — the
    multi-column clustering layout (≡ Delta ``OPTIMIZE ZORDER BY``,
    Iceberg sort-order z-curves): each column is uniformly bucketed to
    ``bits`` bits over its global [min, max], the bucket indices'
    bits are interleaved (reusing `_spread_bits`' magic-number
    spread), and a table written sorted by the key is clustered in
    BOTH columns at once — per-file min/max stays tight on each, so a
    2-D box predicate prunes O(perimeter) files where a linear sort on
    one column prunes nothing on the other.  All native bit/compare
    ops, whole-stage codegen.

    Uniform bucketing is exact for the geo case (lon/lat are bounded
    and near-uniform after cell hashing); heavily skewed columns trade
    some balance (quantile bucketing would fix it at the cost of an
    approxQuantile pass).  NULLs bucket to 0 (sort first, prune-safe:
    stats min/max ignore NULLs and the residual filter still applies).
    """
    if bits < 1 or bits > 29:
        raise ValueError("bits must be in [1, 29]")
    n = 1 << bits

    def bucket(c: Column, lo: float, hi: float) -> Column:
        lo_f, hi_f = float(lo), float(hi)
        if not (hi_f > lo_f):
            hi_f = lo_f + 1.0  # constant column: one bucket, valid args
        w = F.width_bucket(
            c.cast("double"), F.lit(lo_f), F.lit(hi_f), F.lit(n)
        ) - 1
        return F.least(
            F.greatest(F.coalesce(w, F.lit(0)), F.lit(0)),
            F.lit(n - 1),
        ).cast("long")

    return _spread_bits(bucket(a, a_min, a_max)).bitwiseOR(
        F.shiftleft(_spread_bits(bucket(b, b_min, b_max)), 1)
    )


def np_cell_morton(cell: np.ndarray) -> np.ndarray:
    """numpy twin of `cell_morton` (tests / driver-side range planning)."""
    x = (cell >> _X_SHIFT) & _XY_MASK
    y = cell & _XY_MASK
    out = np.zeros(cell.shape, dtype=np.int64)
    for i in range(29):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def morton_ranges(cells: np.ndarray, max_ranges: int = 64) -> list[tuple[int, int]]:
    """Consolidate a cell covering into ≤ ``max_ranges`` inclusive
    Morton-key ranges (driver-side; the covering is already small).

    Exact by construction: every covering cell's key is inside some
    range; gaps wider than the merge budget stay separate ranges.  The
    caller turns these into OR-of-BETWEEN predicates that push down to
    parquet/Iceberg min-max stats on a Morton-sorted table."""
    keys = np.sort(np.unique(np_cell_morton(np.asarray(cells, dtype=np.int64))))
    if len(keys) == 0:
        return []
    # split at the largest gaps until within budget
    gaps = np.diff(keys)
    n_splits = min(max_ranges - 1, int((gaps > 1).sum()))
    if n_splits:
        cut_at = np.sort(np.argsort(gaps)[::-1][:n_splits])
        starts = np.concatenate(([0], cut_at + 1))
        ends = np.concatenate((cut_at, [len(keys) - 1]))
    else:
        starts, ends = np.array([0]), np.array([len(keys) - 1])
    return [(int(keys[s]), int(keys[e])) for s, e in zip(starts, ends)]


def np_bbox_cells_centi(
    lo_lon: int, hi_lon: int, lo_lat: int, hi_lat: int, res: int
) -> np.ndarray:
    """All res-cells covering the HALF-OPEN centi-degree bbox, via the
    same exact integer floor division as `sql_cell_encode_centi` — THE
    bbox→cells planner (used by the Morton bbox query and the catalog
    bench; one implementation so scan predicates can never drift from
    the engine's cell assignment)."""
    n = 1 << res
    x = np.arange(lo_lon * n // 36000, ((hi_lon - 1) * n // 36000) + 1)
    y = np.arange(lo_lat * n // 18000, ((hi_lat - 1) * n // 18000) + 1)
    gx, gy = np.meshgrid(x, y)
    return (
        (res << _RES_SHIFT)
        + (gx.ravel().astype(np.int64) << _X_SHIFT)
        + gy.ravel()
    )


def ranges_predicate(col, ranges: list[tuple]) -> Column:
    """OR-of-BETWEEN Column over inclusive ``(lo, hi)`` ranges — the ONE
    builder behind every range-plan consumer (kNN disk prefilter,
    `catalog.scan` residual, Morton bbox queries), so their
    pruning-never-changes-results contracts can't drift apart.

    Raises on an empty list: every planner here distinguishes "no
    ranges to apply" (skip the filter / `cell_disk_ranges` → None) from
    "filter to nothing" — silently returning lit(False) would turn a
    planning bug into an empty result."""
    if not ranges:
        raise ValueError("empty range list — caller must skip the filter")
    c = _col(col)
    pred = None
    for lo, hi in ranges:
        p = (c >= lo) & (c <= hi)
        pred = p if pred is None else (pred | p)
    return pred


def cell_disk_ranges(
    cells, k, res: int, max_ranges: int = 256
) -> list[tuple[int, int]] | None:
    """Plan the Chebyshev-``k`` disks around driver-side ``cells`` as
    inclusive ``cell_id`` ranges — the SCAN-predicate twin of
    `cell_ring` (which explodes the same cells as join keys).

    ``k`` is an int (uniform radius) or a sequence of per-cell radii
    (matching ``cells`` positionally — the adaptive kNN plans each
    unresolved query's own disk).

    A disk is one contiguous y-strip per x column (x wrapped with pmod,
    y clamped — identical membership to `cell_ring`), so each disk
    yields ≤ 2k+1 BETWEEN ranges; overlapping/adjacent strips across
    disks are merged.  The ring-kNN uses the result to pre-filter the
    pages scan: on a cell-sorted table the OR-of-BETWEEN pushes to
    parquet/Iceberg min-max stats and a ring re-join touches a sliver
    of the corpus instead of scanning it.

    Returns ``None`` when the merged list still exceeds ``max_ranges``
    — the caller must then skip the prefilter rather than chain an
    unbounded literal expression tree into Catalyst (same guard as the
    mapper's footprint restriction).
    """
    n = 1 << res
    base = res << _RES_SHIFT
    cells = list(cells)
    radii = [k] * len(cells) if isinstance(k, int) else list(k)
    # build budget: don't enumerate tens of millions of strips only for
    # the max_ranges check to throw them away — bail early (returning
    # None skips the prefilter, never changes results).  Strips CAN
    # merge across x columns (full-height y spans near the poles), so
    # the budget is a generous multiple, not max_ranges itself.
    build_budget = max(max_ranges * 64, 16384)
    strips: list[tuple[int, int]] = []
    for c, rk in zip(cells, radii):
        c, rk = int(c), int(rk)
        if len(strips) + 2 * rk + 1 > build_budget:
            return None
        x = (c >> _X_SHIFT) & _XY_MASK
        y = c & _XY_MASK
        ylo, yhi = max(y - rk, 0), min(y + rk, n - 1)
        for dx in range(-rk, rk + 1):
            xx = (x + dx) % n
            lo = base + (xx << _X_SHIFT) + ylo
            strips.append((lo, base + (xx << _X_SHIFT) + yhi))
    if not strips:
        return []
    strips.sort()
    merged = [strips[0]]
    for lo, hi in strips[1:]:
        plo, phi = merged[-1]
        if lo <= phi + 1:
            merged[-1] = (plo, max(phi, hi))
        else:
            merged.append((lo, hi))
    return merged if len(merged) <= max_ranges else None


# ---------------------------------------------------------------------------
# Arrow-vectorized variant + numpy reference (used by oracles/tests)
# ---------------------------------------------------------------------------

def np_cell_xy(lon: np.ndarray, lat: np.ndarray, res: int):
    n = 1 << res
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return x, y


def np_cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Numpy reference implementation — bit-identical to `cell_encode`."""
    x, y = np_cell_xy(np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64), res)
    return (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y


def np_cell_centroid(cell: np.ndarray, res: int):
    n = 1 << res
    x = (cell >> _X_SHIFT) & _XY_MASK
    y = cell & _XY_MASK
    lon = (x + 0.5) / n * 360.0 - 180.0
    lat = (y + 0.5) / n * 180.0 - 90.0
    return lon, lat


def cell_encode_arrow(res: int):
    """Arrow-batched pandas UDF lon,lat → cell_id.

    Functionally identical to `cell_encode`; exists to satisfy the
    batched-Arrow encoding contract and as the template for kernels that
    genuinely need numpy. Prefer `cell_encode` (JVM codegen) in plans.
    """
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np_cell_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        return pd.Series(out)

    return _encode


# ---------------------------------------------------------------------------
# Dialect-portable SQL builders (exact integer arithmetic, no shifts) —
# used to express the SAME assignment in Spark SQL and the DuckDB oracle.
# Inputs are *centi-degree integers* (lon_centi ∈ [0, 36000), lat_centi ∈
# [0, 18000)) so both engines do pure bigint math → bit-identical ids.
# ---------------------------------------------------------------------------

def sql_cell_encode_centi(lon_centi: str, lat_centi: str, res: int, dialect: str) -> str:
    n = 1 << res
    if dialect == "spark":
        idiv = "div"
        x = f"(({lon_centi}) * {n} {idiv} 36000)"
        y = f"(({lat_centi}) * {n} {idiv} 18000)"
    elif dialect == "duckdb":
        x = f"(({lon_centi}) * {n} // 36000)"
        y = f"(({lat_centi}) * {n} // 18000)"
    else:
        raise ValueError(dialect)
    return f"(CAST({res} AS BIGINT) * {_P_RES} + {x} * {_P_X} + {y})"
