"""kNN via cell-ring expansion.

The reference only supports k=1 nearest-cell snapping via a per-point
argmin loop (`eodal/core/band.py:1431-1454`, loop :1460-1473); the
north rule requires general kNN.  Algorithm:

1. encode each query point to its cell; explode the Chebyshev ring of
   radius r around it (`grid.cell_ring`) — a small broadcast side;
2. equi-join pages on ``cell_id`` (broadcast-hash: the big side never
   shuffles), compute the squared equirectangular distance;
3. rank per query (``row_number`` ordered by distance, tie-broken by
   url — total order ⇒ deterministic under any parallelism);
4. queries whose k-th distance is not provably inside the searched disk
   (kth_dist > r·cell_height) escalate to a larger radius — each round
   re-joins ONLY the unresolved queries; after ``max_rounds`` rounds
   the remainder falls back to a brute-force broadcast scan (correct
   for any density, including empty regions).

:func:`knn` collects the query set to the driver once and runs this
ladder there: each round is one collect of the ranked candidates, the
bookkeeping is Python, and the answer is a local relation.  A small set
over an unprunable (computed ``cell_id``) scan takes the one brute pass
instead.  Layer × layer kNN, where both sides are large, is
:func:`knn_join`.

Distance is **squared centi-degree distance** — pure integer/float
arithmetic with no transcendentals, so rankings are bit-identical
across engines (the DuckDB oracle brute-forces the same metric).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eodal_spark import grid
from eodal_spark.plans.introspect import cell_id_is_stored
from eodal_spark.session import local_frame


# see knn(): query sets of at most this many rows over an unprunable
# scan take the one brute pass instead of the ring ladder
_TINY_QUERY_ROWS = 256


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sqdist").asc(), F.col("url").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _sqdist() -> F.Column:
    # longitude wraps at ±180°: the ring explodes wrapped cells
    # (grid.cell_ring pmods x), so the metric must wrap too or
    # candidates pulled across the date line get inflated distances
    dlat = F.col("lat_centi") - F.col("q_lat_centi")
    adlon = F.abs(F.col("lon_centi") - F.col("q_lon_centi"))
    dlon = F.least(adlon, F.lit(36000) - adlon)
    return (dlat * dlat + dlon * dlon).cast("long")


def _brute_topk(pages_side: DataFrame, q_side: DataFrame, k: int) -> DataFrame:
    """Top-k of every page against every (broadcast) query of
    ``q_side`` (query_id, q_lat_centi, q_lon_centi, …) — the one
    brute-force plan, exact for any density."""
    cand = pages_side.crossJoin(
        F.broadcast(q_side.select("query_id", "q_lat_centi", "q_lon_centi"))
    )
    return _ranked(cand.withColumn("sqdist", _sqdist()), k).select(
        "query_id", "url", "sqdist", "rank"
    )


def _ring_topk(
    round_pages: DataFrame, ring_src: DataFrame, res: int, k: int
) -> DataFrame:
    """One ring round: explode each query's Chebyshev disk of its own
    ``radius`` (the broadcast side), equi-join the pages on cell_id (the
    big side never shuffles) and rank per query — ≤ |queries|·k rows."""
    ring = ring_src.select(
        "query_id", "q_lat_centi", "q_lon_centi",
        F.explode(
            grid.cell_ring("q_cell", F.col("radius"), res)
        ).alias("cell_id"),
    )
    cand = round_pages.join(F.broadcast(ring), "cell_id", "inner")
    return _ranked(cand.withColumn("sqdist", _sqdist()), k).select(
        "query_id", "url", "sqdist", "rank"
    )


def _round_pages(
    pages_side: DataFrame, probe: list | None, res: int, cap: int | None
) -> DataFrame:
    """``pages_side`` pre-filtered to the cell ranges of the
    ``(q_cell, radius)`` disks in ``probe``; unfiltered (the join alone
    is still exact) without a probe, above ``cap`` disks, or over the
    range budget."""
    if not probe or len(probe) > cap:
        return pages_side
    # max_ranges=64: a BETWEEN tree beyond that costs more in Catalyst
    # analysis per round than the row groups it skips are worth
    # (measured +0.9 s/round at radius 32); an over-budget disk just
    # reads the sorted table — cheap, RLE-compressed, and still joined
    # exactly
    ranges = grid.cell_disk_ranges(
        [p[0] for p in probe], [p[1] for p in probe], res, max_ranges=64
    )
    if not ranges:
        return pages_side
    return pages_side.filter(grid.ranges_predicate("cell_id", ranges))


def knn(
    queries: DataFrame,
    pages_geo: DataFrame,
    res: int,
    k: int,
    start_radius: int = 2,
    max_rounds: int = 3,
    max_ring_radius: int = 256,
    prune_query_cap: int = 4096,
) -> DataFrame:
    """``queries``: (query_id, lat_centi, lon_centi). ``pages_geo``:
    geocoded pages with cell_id, lat_centi, lon_centi, url.
    Returns (query_id, url, sqdist, rank), rank 1..k.

    The call starts with ONE collect of the whole query set to the
    driver.  That limits no query set the ring ladder can serve: every
    ring round broadcasts the exploded disk of each live query —
    (2r+1)² rows per query, all of which pass through the driver — and
    a round's collected top-k is at most k/(2r+1)² of that.  A query set
    too large to broadcast is a LAYER: join it with :func:`knn_join`.

    A set of ≤ 256 queries over an unprunable scan (computed
    ``cell_id``) takes the one brute pass (below), lazy, against a
    local relation of the collected rows: every ring round there is a
    full corpus materialization already, so the ladder could only add
    rounds.  Every other set runs the ring ladder with its bookkeeping
    on the driver (:func:`_knn_on_driver`): each round is ONE collect
    of the ranked candidates, and the answer is a local relation whose
    actions run no Spark job.

    Ring ladder rules:

    1. round 0 explodes the radius-``start_radius`` Chebyshev disk of
       every query (broadcast), equi-joins on cell_id (the big side
       never shuffles); on a STORED cell_id column the same disks,
       planned as OR-of-BETWEEN ranges (`grid.cell_disk_ranges`), also
       pre-filter the scan so a round reads only overlapping row
       groups — unless more than ``prune_query_cap`` disks are live
       (the join alone is still exact).  A query *resolves* when it
       has k candidates whose k-th distance is provably inside the
       searched disk — STRICTLY (kth < (r·cell_height)²: a boundary
       tie could rank an excluded just-outside point into the true
       top-k, so ties escalate) — or when its disk provably covers the
       whole grid (x wraps at 2r+1 ≥ n; y clamps, needing r ≥
       max(y, n-1-y)).
    2. each later round re-joins ONLY the unresolved queries, each at
       its OWN radius (`grid.cell_ring` takes a per-row Column): a
       query that already saw k candidates gets the
       GUARANTEED-finishing radius ``floor(sqrt(kth)/cell_h)+2`` (its
       true k-th neighbour is within the observed kth, so that disk
       provably contains and bounds it); a query with < k candidates
       jumps ×4.  Radii are capped at the query's full-coverage
       radius.
    3. queries whose next radius would exceed ``max_ring_radius``, or
       that remain unresolved after ``max_rounds`` passes, fall back to
       ONE brute-force broadcast scan — correct for any density; at
       10^12 rows only truly-isolated queries pay for it.  The default
       cap (256 → a (2r+1)² ≈ 263k-cell disk) bounds the broadcast
       ring explosion per query: past that, materializing
       multi-million-cell join keys costs more than the brute pass.
       When the scan CANNOT be pruned (every ring pass re-materializes
       the corpus, so patience buys nothing) the ladder is shortened
       to ≤ 2 passes, and a ZERO-evidence query (no candidates
       anywhere in its searched disk) goes straight to the brute pass
       — a blind ×4 ring there costs a full corpus materialization for
       a guess, while brute is definitive for all such queries at
       once.  With pruning, rounds are sliver reads and the geometric
       ladder applies to zero-evidence queries too.
    """
    q = queries.select(
        "query_id",
        F.col("lat_centi").alias("q_lat_centi"),
        F.col("lon_centi").alias("q_lon_centi"),
        F.expr(
            grid.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")
        ).alias("q_cell"),
    )
    pages_side = pages_geo.select("cell_id", "url", "lat_centi", "lon_centi")
    n_cells = 1 << res

    scan_prune = cell_id_is_stored(pages_geo)
    # unprunable scans pay a full corpus materialization per pass —
    # shorten the ladder so stragglers reach the (equally full-pass,
    # but final) brute fallback sooner
    rounds_budget = max_rounds if scan_prune else min(max_rounds, 2)

    q_y = grid.cell_y_of(F.col("q_cell"))
    # radius at which the disk provably covers the whole grid
    coverage_r = F.greatest(q_y, F.lit(n_cells - 1) - q_y, F.lit(n_cells // 2))
    unres = q.select(
        "*",
        F.lit(start_radius).cast("int").alias("radius"),
        coverage_r.cast("int").alias("cov_r"),
    )
    head = unres.collect()
    spark = queries.sparkSession
    if not scan_prune and len(head) <= _TINY_QUERY_ROWS:
        # brute's rank shuffle is bounded map-side by WindowGroupLimit
        # (top-k per task before the exchange), so the single pass is
        # scale-sane for small q at any corpus size.  Output-identical:
        # the ladder's contract is row-for-row brute equality.
        return _brute_topk(pages_side, local_frame(spark, head, unres.schema), k)
    return _knn_on_driver(
        spark, head, unres, pages_side, res, k, rounds_budget,
        max_ring_radius, prune_query_cap if scan_prune else None,
    )


def _knn_on_driver(
    spark: SparkSession,
    head: list,
    unres: DataFrame,
    pages_side: DataFrame,
    res: int,
    k: int,
    rounds_budget: int,
    max_ring_radius: int,
    prune_query_cap: int | None,
) -> DataFrame:
    """:func:`knn`'s ring ladder, bookkeeping on the driver.  ``head``
    holds every row of the lazy round-0 frame ``unres`` (query_id,
    q_lat_centi, q_lon_centi, q_cell, radius, cov_r).  Each round is
    one collect of ``_ring_topk``; the resolve test, next radius and
    brute routing are evaluated in Python.  ``prune_query_cap`` is None
    on an unprunable scan: no round pre-filters the scan, and a query
    with no candidates in its searched disk goes straight to brute.
    Returns a local relation: actions on it run no job."""
    cell_h_centi = 18000.0 / (1 << res)
    live = [tuple(r) for r in head]
    found: list = []
    brute_q: list = []
    out_schema = None
    for _ in range(rounds_budget):
        if not live:
            break
        probe = None if prune_query_cap is None else [(r[3], r[4]) for r in live]
        round_pages = _round_pages(pages_side, probe, res, prune_query_cap)
        ring_src = local_frame(spark, live, unres.schema)
        topk = _ring_topk(round_pages, ring_src, res, k)
        out_schema = topk.schema
        rows = topk.collect()
        n_found = Counter(r["query_id"] for r in rows)
        kth: dict = {}
        for r in rows:
            kth[r["query_id"]] = max(kth.get(r["query_id"], 0), r["sqdist"])
        resolved = set()
        next_live = []
        for row in live:
            qid, _, _, _, radius, cov_r = row
            n = n_found[qid]
            bound = (radius * cell_h_centi) ** 2
            if (n == k and kth[qid] < bound) or radius >= cov_r:
                resolved.add(qid)
                continue
            if n == k:
                next_r = math.floor(math.sqrt(kth[qid]) / cell_h_centi) + 2
            else:
                next_r = radius * 4
            next_r = min(next_r, cov_r)
            if next_r > max_ring_radius or (prune_query_cap is None and n == 0):
                brute_q.append(row)
            else:
                next_live.append((*row[:4], next_r, cov_r))
        found += [r for r in rows if r["query_id"] in resolved]
        live = next_live
    if live or brute_q:
        rest = local_frame(spark, live + brute_q, unres.schema)
        brute = _brute_topk(pages_side, rest, k)
        out_schema = brute.schema
        found += brute.collect()
    if out_schema is None:  # no queries, so no plan built to read it from
        out_schema = _ring_topk(pages_side, unres, res, k).schema
    return local_frame(spark, found, out_schema)


def knn_brute(queries: DataFrame, pages_geo: DataFrame, k: int) -> DataFrame:
    """Reference brute-force kNN (the baseline the ring version must
    match row-for-row — and the shape of the DuckDB oracle)."""
    q = queries.select(
        "query_id",
        F.col("lat_centi").alias("q_lat_centi"),
        F.col("lon_centi").alias("q_lon_centi"),
    )
    return _brute_topk(pages_geo.select("url", "lat_centi", "lon_centi"), q, k)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    res: int,
    k: int,
    radius: int = 2,
    left_id: str = "query_id",
    right_cell_col: str | None = None,
) -> DataFrame:
    """Grid-bounded kNN JOIN — both sides arbitrarily large.

    For every ``left`` point, the ``k`` nearest ``right`` points (same
    wrapped squared centi-degree metric and url tie-break as
    :func:`knn`) among rights whose res-``res`` cell lies within
    Chebyshev distance ``radius`` of the left point's cell.  This is
    the LAYER × LAYER companion of :func:`knn`: `knn` broadcasts a
    small query set and escalates per query until the global top-k is
    proven; a kNN *join* has 10^9 points on BOTH sides, where
    per-query escalation rounds (driver actions) are off the table.
    The bounded-disk contract makes the operator one static relational
    plan — the standard scale-out trade (PostGIS `<->` lateral joins
    and Sedona's ST_KNN make the same cut per grid block); rows whose
    true k-th neighbour lies outside the disk return what the disk
    holds (``rank`` may stop short of k), and a caller needing exact
    global kNN for the remainder feeds those ids to :func:`knn`.

    Shape at scale: the left side explodes to its (2·radius+1)² disk
    (`grid.cell_ring` — x wraps, y clamps), then ONE shuffle per side
    co-partitions on ``cell_id`` for the equi-join and ONE shuffle
    ranks per left id.  No broadcast, no driver action, no UDF —
    whole-stage codegen end to end.

    ``right_cell_col``: name of a STORED res-``res`` cell column on
    ``right`` (e.g. the sorted layout's ``cell_id``) — reusing it keeps
    the join key aligned with the file sort so footer min/max stats
    prune the probe side; when absent the cell is computed from
    ``lon_centi``/``lat_centi``.
    """
    cell_sql = grid.sql_cell_encode_centi(
        "lon_centi", "lat_centi", res, "spark"
    )
    q = left.select(
        F.col(left_id).alias("query_id"),
        F.col("lat_centi").alias("q_lat_centi"),
        F.col("lon_centi").alias("q_lon_centi"),
        F.expr(cell_sql).alias("_qcell"),
    )
    probe = q.select(
        "query_id",
        "q_lat_centi",
        "q_lon_centi",
        F.explode(grid.cell_ring(F.col("_qcell"), radius, res)).alias(
            "cell_id"
        ),
    )
    if right_cell_col is None:
        r = right.select(
            "url", "lat_centi", "lon_centi",
            F.expr(cell_sql).alias("cell_id"),
        )
    else:
        r = right.select(
            "url", "lat_centi", "lon_centi",
            F.col(right_cell_col).alias("cell_id"),
        )
    cand = probe.join(r, "cell_id")
    return _ranked(cand.withColumn("sqdist", _sqdist()), k).select(
        F.col("query_id").alias(left_id), "url", "sqdist", "rank"
    )
