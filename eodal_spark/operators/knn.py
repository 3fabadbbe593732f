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

:func:`knn` runs this ladder on one of three paths, chosen from one
bounded collect of the query set: tiny sets over a prunable (stored
``cell_id``) scan keep the bookkeeping on the driver and return a
local relation; tiny sets over an unprunable scan take the one brute
pass; larger sets run the ladder relationally, bookkeeping included.

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


# see knn(): query sets of at most this many rows are answered on the
# driver-side paths; larger sets run the relational ladder
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
    pages_side: DataFrame, probe: list | None, res: int, cap: int
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


# Per-round caches of the most recent relational-ladder knn() call,
# PER DRIVER THREAD
# (keyed by thread ident: concurrent driver threads each track their
# own calls, so one thread's knn() can never unpersist another LIVE
# thread's caches).  The returned plan references them, so they cannot
# be unpersisted inside knn() itself; instead each new knn() call on
# the same thread releases the previous call's caches, and callers
# that materialized their result can reclaim storage memory
# immediately with release_caches().  Entries belonging to DEAD
# threads are purged on every knn()/release_caches() call — Spark's
# CacheManager pins cached plans independent of Python GC, so a pool
# of short-lived threads (one knn() each, thread never reused) would
# otherwise accumulate caches for the application lifetime.  (A caller
# that holds an UNmaterialized knn result across a second same-thread
# knn() call merely recomputes from lineage — correctness is
# unaffected, only speed.)
import threading as _threading

_CACHES_LOCK = _threading.Lock()
_CACHES_BY_THREAD: dict[int, list] = {}


def _round_caches() -> list:
    with _CACHES_LOCK:
        return _CACHES_BY_THREAD.setdefault(_threading.get_ident(), [])


def _purge_dead_threads() -> None:
    live = {t.ident for t in _threading.enumerate()}
    with _CACHES_LOCK:
        dead = [i for i in _CACHES_BY_THREAD if i not in live]
        orphans = [c for i in dead for c in _CACHES_BY_THREAD.pop(i)]
    for c in orphans:
        try:
            c.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release


def release_caches() -> None:
    """Unpersist the per-round topk caches of this thread's most recent
    :func:`knn` call — call after materializing its result."""
    _purge_dead_threads()
    caches = _round_caches()
    while caches:
        caches.pop().unpersist()


def knn(
    queries: DataFrame,
    pages_geo: DataFrame,
    res: int,
    k: int,
    start_radius: int = 2,
    max_rounds: int = 3,
    scan_prune: bool | None = None,
    max_ring_radius: int = 256,
    prune_query_cap: int = 4096,
) -> DataFrame:
    """``queries``: (query_id, lat_centi, lon_centi). ``pages_geo``:
    geocoded pages with cell_id, lat_centi, lon_centi, url.
    Returns (query_id, url, sqdist, rank), rank 1..k.

    The call starts with ONE bounded collect of the query set (at most
    max(256, ``prune_query_cap``)+1 rows).  It picks the path, and on
    the larger-set path the same rows are round 0's disk-range probe:

    * **tiny set (≤ 256 queries), prunable scan** — the ring ladder
      below with its bookkeeping on the driver: each round is ONE
      collect of the ranked candidates (≤ |live queries|·k rows), the
      resolve test, next radius, ``max_ring_radius`` routing and round
      budget are evaluated in Python with the relational rules, and the
      leftovers take one collected brute pass.  Every query side is a
      pandas→Arrow local relation, and so is the answer: the caller's
      action on it runs no Spark job.
    * **tiny set, unprunable scan** — the one brute pass (below), lazy,
      against a local relation of the collected rows.
    * **larger set** — the relational ladder, returned lazily.

    Ring ladder rules (both bookkeeping forms):

    1. round 0 explodes the radius-``start_radius`` Chebyshev disk of
       every query (broadcast), equi-joins on cell_id (the big side
       never shuffles); on a STORED cell_id column the same disks,
       planned as OR-of-BETWEEN ranges (`grid.cell_disk_ranges`), also
       pre-filter the scan so a round reads only overlapping row
       groups.  A query *resolves* when it has k candidates whose k-th
       distance is provably inside the searched disk — STRICTLY
       (kth < (r·cell_height)²: a boundary tie could rank an excluded
       just-outside point into the true top-k, so ties escalate) — or
       when its disk provably covers the whole grid (x wraps at 2r+1 ≥
       n; y clamps, needing r ≥ max(y, n-1-y)).
    2. each later round gives every unresolved query its OWN radius
       (`grid.cell_ring` takes a per-row Column): a query that already
       saw k candidates gets the GUARANTEED-finishing radius
       ``floor(sqrt(kth)/cell_h)+2`` (its true k-th neighbour is within
       the observed kth, so that disk provably contains and bounds it);
       a query with < k candidates jumps ×4.  Radii are capped at the
       query's full-coverage radius.
    3. relationally, unresolved queries live in a small DataFrame;
       rounds re-join ONLY them via broadcast semi/anti joins — no
       ``isin`` literal trees, so 10⁵-10⁶ query points don't blow up
       Catalyst analysis.  Each round runs exactly ONE driver action: a
       fused agg returning the (unresolved, overflow) counts AND the
       next round's disk-range probe (a collect_list sliced to
       ``prune_query_cap``+1 cells — above the cap the prefilter is
       skipped; the join alone is still exact).  The final budget round
       keeps the counts but skips the probe.  Per-round topk caches are
       registered and released at the start of the NEXT knn() call, or
       eagerly via :func:`release_caches` once the result is
       materialized.
    4. queries whose next radius would exceed ``max_ring_radius``, or
       that remain unresolved after ``max_rounds`` passes, fall back to
       ONE bounded brute-force broadcast scan — correct for any
       density; at 10^12 rows only truly-isolated queries pay for it.
       The default cap (256 → a (2r+1)² ≈ 263k-cell disk) bounds the
       broadcast ring explosion per query: past that, materializing
       multi-million-cell join keys costs more than the brute pass.
       When the scan CANNOT be pruned (computed cell_id: every ring
       pass re-materializes the corpus, so patience buys nothing) the
       ladder is shortened to ≤ 2 passes, and a ZERO-evidence query
       (no candidates anywhere in its searched disk) goes straight to
       the brute pass — a blind ×4 ring there costs a full corpus
       materialization for a guess, while brute is definitive for all
       such queries at once.  With pruning, rounds are sliver reads
       and the geometric ladder applies to zero-evidence queries too.
    """
    release_caches()  # reclaim the previous knn() call's round caches
    q = queries.select(
        "query_id",
        F.col("lat_centi").alias("q_lat_centi"),
        F.col("lon_centi").alias("q_lon_centi"),
        F.expr(
            grid.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")
        ).alias("q_cell"),
    )
    pages_side = pages_geo.select("cell_id", "url", "lat_centi", "lon_centi")
    # cell height in centi-degrees: any point outside the radius-r disk
    # is at least r*height away (height <= width on this grid)
    cell_h_centi = 18000.0 / (1 << res)
    n_cells = 1 << res

    if scan_prune is None:
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
    q_cols = ["query_id", "q_lat_centi", "q_lon_centi", "q_cell"]

    head_cap = max(_TINY_QUERY_ROWS, prune_query_cap if scan_prune else 0)
    head = unres.limit(head_cap + 1).collect()
    if len(head) <= _TINY_QUERY_ROWS:
        spark = queries.sparkSession
        if not scan_prune:
            # every ring round over an unprunable corpus is already a
            # full materialization, so the ladder can only add rounds ×
            # (scan + driver action) on top of what one brute pass
            # costs; brute's rank shuffle is bounded map-side by
            # WindowGroupLimit (top-k per task before the exchange), so
            # the single pass is scale-sane for small q at any corpus
            # size.  Output-identical: the ladder's contract is
            # row-for-row brute equality.
            return _brute_topk(
                pages_side, local_frame(spark, head, unres.schema), k
            )
        return _knn_on_driver(
            spark, head, unres, pages_side, res, k, rounds_budget,
            max_ring_radius, prune_query_cap,
        )

    # round 0's scan-range probe is the head collect; every later
    # round's probe rides the fused summary
    probe: list | None = None
    if scan_prune:
        probe = [(r["q_cell"], r["radius"]) for r in head[: prune_query_cap + 1]]

    results: DataFrame | None = None
    brute_q: DataFrame | None = None
    have_overflow = False
    for i in range(rounds_budget):
        last = i == rounds_budget - 1
        round_pages = _round_pages(pages_side, probe, res, prune_query_cap)
        topk = _ring_topk(round_pages, unres, res, k)
        topk = topk.cache()  # tiny: ≤ |unresolved|·k rows, reused below
        _round_caches().append(topk)
        stats = topk.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("sqdist").alias("kth")
        )
        st = unres.join(F.broadcast(stats), "query_id", "left").select(
            "*",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_found"),
        )
        bound = (F.col("radius").cast("double") * cell_h_centi) ** 2
        resolved_c = (
            ((F.col("n_found") == k) & (F.col("kth") < bound))
            | (F.col("radius") >= F.col("cov_r"))
        )
        # guaranteed-finishing radius when k candidates exist (kth is an
        # upper bound on the true k-th distance; +2 absorbs sqrt ULP) —
        # ×4 jump otherwise; always capped at full coverage
        next_r = F.least(
            F.when(
                F.col("n_found") == k,
                F.floor(F.sqrt(F.col("kth").cast("double")) / cell_h_centi)
                .cast("int") + 2,
            ).otherwise(F.col("radius") * 4),
            F.col("cov_r"),
        )
        st = st.select(
            *q_cols, "cov_r", "radius", "n_found",
            resolved_c.alias("resolved"),
            next_r.alias("next_r"),
        ).cache()  # tiny (|unres| rows) but referenced 4× per round —
        # uncached, each later round's lineage re-expands every prior
        # round's st subtree (with its stats broadcast), compounding
        _round_caches().append(st)
        # routing: oversized disks brute; on an UNPRUNABLE scan a
        # zero-evidence query (no candidates anywhere in its disk) also
        # brutes — every further ring round would be a full corpus
        # materialization on a blind guess, while the single brute pass
        # is definitive for all such queries at once.  With pruning the
        # ladder is cheap (sliver reads) and patience pays.
        to_brute = (F.col("next_r") > max_ring_radius) | (
            F.lit(not scan_prune) & (F.col("n_found") == 0)
        )
        live = ~F.col("resolved") & ~to_brute
        # ONE fused driver action per round: unresolved/overflow counts
        # AND the next round's scan-range probe come out of a single agg
        # over st (collect_list is bounded by the queries contract — the
        # ring broadcast already requires the query side to be small;
        # the slice caps what crosses to the driver at cap+1).  st is
        # NOT cached: its later uses recompute a tiny join against the
        # cached topk.  The final budget round skips the probe (there is
        # no next round) but keeps the counts — knowing u == o == 0
        # prunes the brute branch out of the caller's final job, which
        # otherwise pays a full corpus scan against an empty broadcast.
        probe_want = scan_prune and not last
        probe_col = F.slice(
            F.collect_list(
                F.when(
                    live if probe_want else F.lit(False),
                    F.struct("q_cell", "next_r"),
                )
            ),
            1,
            prune_query_cap + 1,
        )
        summary = st.agg(
            F.sum(live.cast("long")).alias("u"),
            F.sum((~F.col("resolved") & to_brute).cast("long")).alias("o"),
            probe_col.alias("p"),
        ).collect()[0]
        probe = (
            [(r["q_cell"], r["next_r"]) for r in summary["p"]]
            if probe_want
            else None
        )
        part = topk.join(
            F.broadcast(st.filter("resolved").select("query_id")),
            "query_id", "left_semi",
        )
        results = part if results is None else results.unionByName(part)
        over = st.filter(~F.col("resolved") & to_brute).select(*q_cols)
        brute_q = over if brute_q is None else brute_q.unionByName(over)
        have_overflow = have_overflow or bool(summary["o"])
        unres = st.filter(live).select(
            *q_cols, "cov_r", F.col("next_r").alias("radius")
        )
        if not summary["u"]:
            unres = None
            break

    rest = None
    if unres is not None:  # budget exhausted with live unresolved queries
        rest = unres.select(*q_cols)
        if have_overflow:
            rest = rest.unionByName(brute_q)
    elif have_overflow:
        rest = brute_q
    if rest is not None:
        brute = _brute_topk(pages_side, rest, k)
        results = brute if results is None else results.unionByName(brute)
    return results.select("query_id", "url", "sqdist", "rank")


def _knn_on_driver(
    spark: SparkSession,
    head: list,
    unres: DataFrame,
    pages_side: DataFrame,
    res: int,
    k: int,
    rounds_budget: int,
    max_ring_radius: int,
    prune_query_cap: int,
) -> DataFrame:
    """:func:`knn`'s ring ladder for a tiny query set over a prunable
    scan, bookkeeping on the driver.  ``head`` holds every row of the
    lazy round-0 frame ``unres`` (query_id, q_lat_centi, q_lon_centi,
    q_cell, radius, cov_r).  Each round is one collect of
    ``_ring_topk``; the resolve, next-radius and routing rules are the
    relational ladder's, evaluated in Python with the same IEEE double
    operations, so they decide the same.  Returns a local relation:
    actions on it run no job."""
    cell_h_centi = 18000.0 / (1 << res)
    live = [tuple(r) for r in head]
    found: list = []
    brute_q: list = []
    out_schema = None
    for _ in range(rounds_budget):
        if not live:
            break
        round_pages = _round_pages(
            pages_side, [(r[3], r[4]) for r in live], res, prune_query_cap
        )
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
            if next_r > max_ring_radius:
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
