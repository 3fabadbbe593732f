"""kNN: ring-expansion must equal brute force row-for-row (total-order
tie-break ⇒ unique answer). Generalizes `eodal/core/band.py:1431-1454`."""

from __future__ import annotations

import tempfile

import pytest

from eodal_spark.operators import knn as K
from eodal_spark.sources import pages as P

RES = 8


@pytest.fixture(scope="module")
def pages_geo(spark, pages_small):
    return P.geocode(pages_small, RES).cache()


@pytest.fixture(scope="module")
def queries(spark):
    # dense hotspot, background, empty-region (forces brute-force path)
    rows = [
        (1, 13737, 18854),   # Zürich center
        (2, 13070, 10600),   # NYC center
        (3, 9000, 18000),    # background
        (4, 500, 100),       # near south pole — empty region
        (5, 12570, 31970),   # Tokyo
    ]
    return spark.createDataFrame(rows, ["query_id", "lat_centi", "lon_centi"])


# (url, lon_centi, lat_centi): four pages 500 centi-deg east of the
# query (9000, 18000) — empty at radius 2, resolved at radius 8 (res 8)
SPARSE_PAGES = [(100 + i, 18000 + 500, 9000 + 7 * i) for i in range(4)]


def _stored_pages(spark, tmp_path, rows, res, url_type="long"):
    """(url, lon_centi, lat_centi) rows as a parquet table with a STORED
    cell_id column (a prunable scan)."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    pages = spark.createDataFrame(
        [(u if url_type == "long" else f"u{u:04d}", lon, lat) for u, lon, lat in rows],
        f"url {url_type}, lon_centi long, lat_centi long",
    ).withColumn(
        "cell_id",
        F.expr(GR.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")),
    )
    path = tempfile.mkdtemp(dir=tmp_path) + "/pages"
    pages.write.parquet(path)
    return spark.read.parquet(path)


def _recorded_rounds(monkeypatch) -> list:
    """Record the plan of every ring round ``knn`` builds: its answer
    is a local relation, so the plans worth asserting on are the
    rounds'."""
    rounds = []
    ring_topk = K._ring_topk

    def recording(*args):
        rounds.append(ring_topk(*args))
        return rounds[-1]

    monkeypatch.setattr(K, "_ring_topk", recording)
    return rounds


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ring_knn_matches_brute_force(pages_geo, queries):
    k = 7
    ring = (
        K.knn(queries, pages_geo, RES, k)
        .orderBy("query_id", "rank")
        .collect()
    )
    brute = (
        K.knn_brute(queries, pages_geo, k)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert len(ring) == len(brute) == 5 * k
    for a, b in zip(ring, brute):
        assert (a["query_id"], a["rank"], a["url"], a["sqdist"]) == (
            b["query_id"], b["rank"], b["url"], b["sqdist"]
        )


def test_knn_matches_duckdb_oracle(spark, queries):
    import duckdb

    k = 5
    n = 10_000
    q_rows = queries.collect()
    qsql = " UNION ALL ".join(
        f"SELECT {r['query_id']} AS query_id, {r['lat_centi']} AS q_lat, "
        f"{r['lon_centi']} AS q_lon"
        for r in q_rows
    )
    expect = duckdb.sql(
        f"""
        SELECT query_id, url, sqdist, rank FROM (
          SELECT q.query_id, p.url,
                 (p.lat_centi - q.q_lat) * (p.lat_centi - q.q_lat)
               + least(abs(p.lon_centi - q.q_lon), 36000 - abs(p.lon_centi - q.q_lon))
               * least(abs(p.lon_centi - q.q_lon), 36000 - abs(p.lon_centi - q.q_lon)) AS sqdist,
                 row_number() OVER (PARTITION BY q.query_id
                                    ORDER BY sqdist, p.url) AS rank
          FROM {P.sql_pages_subquery(n, "duckdb")} p, ({qsql}) q
        ) WHERE rank <= {k} ORDER BY query_id, rank
        """
    ).df()
    geo = P.geocode(P.synth_pages(spark, n), RES)
    got = (
        K.knn(queries, geo, RES, k)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert (got["url"].to_numpy() == expect["url"].to_numpy()).all()
    assert (got["sqdist"].to_numpy() == expect["sqdist"].to_numpy()).all()


def test_knn_escalation_resolves_sparse_without_brute(spark, tmp_path, monkeypatch):
    """A query one ring-jump away from its neighbours must resolve in
    an ESCALATED ring pass — never via the brute-force fallback (the
    brute helper raises if reached), matching brute row-for-row.
    The corpus is a STORED table: with a prunable scan, ring rounds are
    sliver reads and the geometric ladder applies even to queries whose
    first disk was empty (an unprunable scan sends those straight to
    brute — see knn's cost policy)."""
    # res 8: cell height 70.3, width 140.6 centi-deg.  Neighbours sit
    # 500 centi-deg east: outside the radius-2 disk (round 1 empty),
    # inside the radius-8 disk and within its provable bound
    # (562.5² > 500²+14²), so the ×4 escalation resolves it.
    pages = _stored_pages(spark, tmp_path, SPARSE_PAGES, RES)
    q = spark.createDataFrame([(1, 9000, 18000)], ["query_id", "lat_centi", "lon_centi"])

    def no_brute(*args, **kwargs):
        raise AssertionError("brute-force fallback reached")

    with monkeypatch.context() as m:
        m.setattr(K, "_brute_topk", no_brute)
        got = K.knn(q, pages, RES, k=3, start_radius=2, max_rounds=3)
        got = got.orderBy("rank").collect()
    brute = K.knn_brute(q, pages, k=3).orderBy("rank").collect()
    assert [(r["url"], r["sqdist"]) for r in got] == [
        (r["url"], r["sqdist"]) for r in brute
    ]


def test_knn_dense_first_round_plan_has_no_cartesian(pages_geo, spark, monkeypatch):
    """All-dense queries resolve in round one: the one ring round is
    the broadcast ring join only — no CartesianProduct — and the brute
    fallback is never built.  The query set sits above the tiny-set
    threshold (replicated hotspot points)."""
    rows = [
        (i, 13737, 18854) if i % 2 == 0 else (i, 13070, 10600)
        for i in range(2000)
    ]
    q = spark.createDataFrame(rows, ["query_id", "lat_centi", "lon_centi"])
    rounds = _recorded_rounds(monkeypatch)

    def no_brute(*args, **kwargs):
        raise AssertionError("brute-force fallback reached")

    monkeypatch.setattr(K, "_brute_topk", no_brute)
    assert K.knn(q, pages_geo, RES, k=3).count() == 2000 * 3
    assert len(rounds) == 1
    plan = _executed(rounds[0])
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_knn_tiny_query_set_unprunable_goes_brute(pages_geo, spark):
    """A handful of queries over an UNPRUNABLE (computed, uncached
    cell_id) corpus short-circuit to the one-pass brute plan: no ring
    ladder, and rows equal to knn_brute exactly.  (The cached fixture
    counts as stored — prunable — so it keeps the ladder.)"""
    # distinct row count so the CacheManager cannot substitute the
    # cached pages_geo fixture (plan-equality match would make cell_id
    # a stored column of the InMemoryRelation leaf)
    geo = P.geocode(P.synth_pages(spark, 9_000), RES)
    q = spark.createDataFrame(
        [(1, 13737, 18854), (2, 13070, 10600)],
        ["query_id", "lat_centi", "lon_centi"],
    )
    out = K.knn(q, geo, RES, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in plan, "tiny-set shortcut not engaged"
    got = [
        (r["query_id"], r["url"], r["sqdist"], r["rank"])
        for r in out.orderBy("query_id", "rank").collect()
    ]
    brute = [
        (r["query_id"], r["url"], r["sqdist"], r["rank"])
        for r in K.knn_brute(q, geo, k=3).orderBy("query_id", "rank").collect()
    ]
    assert got == brute


def test_knn_wraps_date_line(spark):
    """A query at lon ≈ +179.99 must find pages just across ±180° as
    nearest — wrapped dlon, not the 36000-centi-degree raw difference."""
    from eodal_spark import grid as GR
    from pyspark.sql import functions as F

    rows = [
        # (url, lon_centi, lat_centi): two pages hugging the line's west
        # side (lon ≈ -179.99 → lon_centi 1, 3), one far away eastward
        (100, 1, 9000),
        (101, 3, 9000),
        (102, 30000, 9000),
    ]
    pages = spark.createDataFrame(rows, ["url", "lon_centi", "lat_centi"])
    pages = pages.withColumn(
        "cell_id",
        F.expr(GR.sql_cell_encode_centi("lon_centi", "lat_centi", RES, "spark")),
    )
    q = spark.createDataFrame([(1, 9000, 35999)], ["query_id", "lat_centi", "lon_centi"])
    got = K.knn(q, pages, RES, k=2).orderBy("rank").collect()
    assert [r["url"] for r in got] == [100, 101]
    assert got[0]["sqdist"] == 2 * 2   # |35999-1| wraps to 2
    assert got[1]["sqdist"] == 4 * 4
    # brute path agrees
    brute = K.knn_brute(q, pages, k=2).orderBy("rank").collect()
    assert [(r["url"], r["sqdist"]) for r in got] == [
        (r["url"], r["sqdist"]) for r in brute
    ]


def test_cell_disk_ranges_membership_matches_ring(spark):
    """cell_disk_ranges must enumerate EXACTLY the cells cell_ring
    explodes (x wrap at the date line, y clamp at the poles included) —
    the scan predicate and the join keys are the same set."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    res, k = 6, 2
    n = 1 << res
    probe_cells = [
        (res << 58) + (10 << 29) + 10,          # interior
        (res << 58) + (0 << 29) + 20,           # x wrap low
        (res << 58) + ((n - 1) << 29) + 20,     # x wrap high
        (res << 58) + (5 << 29) + 0,            # y clamp bottom
        (res << 58) + (7 << 29) + (n - 1),      # y clamp top
    ]
    ranges = GR.cell_disk_ranges(probe_cells, k, res)
    from_ranges = set()
    for lo, hi in ranges:
        from_ranges.update(range(lo, hi + 1))

    df = spark.createDataFrame([(c,) for c in probe_cells], ["cell"])
    exploded = df.select(F.explode(GR.cell_ring("cell", k, res)).alias("c"))
    from_ring = {r.c for r in exploded.collect()}
    assert from_ranges == from_ring

    # budget guard: too many disks → None (caller skips the prefilter)
    many = [(res << 58) + (int(x) << 29) + 5 for x in range(0, n, 5)]
    assert GR.cell_disk_ranges(many, k, res, max_ranges=4) is None


def test_knn_ring_pass_prunes_cell_sorted_scan(spark, tmp_path, monkeypatch):
    """100 TB claim, measured: a ring pass over a cell-sorted parquet
    table carries the disk ranges INTO the scan (PushedFilters in the
    plan of knn's first ring round), and that predicate materializes
    only the row groups overlapping the query disks — numOutputRows <<
    table rows — while results still match brute force row-for-row."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    geo = P.geocode(P.synth_pages(spark, 40_000), RES).select(
        "url", "cell_id", "lat_centi", "lon_centi"
    )
    path = str(tmp_path / "cell_sorted")
    geo.repartitionByRange(64, "cell_id").sortWithinPartitions(
        "cell_id"
    ).write.parquet(path)
    table = spark.read.parquet(path)

    # background-region queries: the sliver claim is about rings NOT
    # dragging the corpus in — city-centered disks legitimately read
    # the hotspot rows they rank
    q = spark.createDataFrame(
        [(1, 9000, 18000), (2, 7000, 27000)],
        ["query_id", "lat_centi", "lon_centi"],
    )
    rounds = _recorded_rounds(monkeypatch)
    rows = K.knn(q, table, RES, k=3).collect()
    # the disk ranges reach the parquet scan inside the ring pass
    plan = _executed(rounds[0])
    assert "PushedFilters: [Or(" in plan and "cell_id" in plan

    # the same predicate knn builds (cell_disk_ranges at round-1 radius)
    # materializes a sliver of the table, not a scan of it
    cells = [
        int(GR.np_cell_encode([18000 / 100 - 180], [9000 / 100 - 90], RES)[0]),
        int(GR.np_cell_encode([27000 / 100 - 180], [7000 / 100 - 90], RES)[0]),
    ]
    ranges = GR.cell_disk_ranges(cells, 2, RES)
    pred = None
    for lo, hi in ranges:
        p = F.col("cell_id").between(lo, hi)
        pred = p if pred is None else (pred | p)
    hit = table.filter(pred)
    hit.collect()
    leaves = hit._jdf.queryExecution().executedPlan().collectLeaves()
    materialized = leaves.apply(0).metrics().apply("numOutputRows").value()
    assert 0 < materialized <= 40_000 // 10, materialized

    brute = K.knn_brute(q, table, k=3).collect()
    assert {(r.query_id, r.url, r.sqdist, r.rank) for r in rows} == {
        (r.query_id, r.url, r.sqdist, r.rank) for r in brute
    }


def test_knn_full_coverage_shortcut_respects_y_clamp(spark):
    """Regression: '2r+1 >= n' only proves full X coverage (x wraps);
    y CLAMPS, so a polar query's disk misses high-y cells at that
    radius.  The old shortcut resolved such queries early and silently
    dropped a closer page outside the disk."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    res = 3  # n = 8 cells per axis
    rows = [
        # (url, lon_centi, lat_centi)
        (1, 17100, 10000),  # in radius-4 disk of q (y=4), far in lon
        (2, 100, 11300),    # OUTSIDE radius-4 disk (y=5) but CLOSER
    ]
    pages = spark.createDataFrame(rows, ["url", "lon_centi", "lat_centi"])
    pages = pages.withColumn(
        "cell_id",
        F.expr(GR.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")),
    )
    q = spark.createDataFrame(
        [(1, 1000, 100)], ["query_id", "lat_centi", "lon_centi"]
    )
    got = K.knn(q, pages, res, k=1, start_radius=2, max_rounds=3).collect()
    brute = K.knn_brute(q, pages, k=1).collect()
    assert [(r.url, r.sqdist) for r in got] == [
        (r.url, r.sqdist) for r in brute
    ]
    assert got[0].url == 2  # the closer out-of-disk page wins


def test_knn_large_query_set_has_bounded_plan(spark, monkeypatch):
    """50 k query points: the ring round's query side is a local
    relation, never `isin(<50k literals>)` — its plan string stays
    bounded and analysis doesn't blow up (the r2 mapper OR-footprint
    disease).  Dense grid → everything resolves in round 1."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    res = 4
    n = 1 << res
    # one page at every cell center: each query's own cell is occupied,
    # so k=1 provably resolves at the start radius for all 50k queries
    pages = spark.range(n * n).select(
        F.col("id").alias("url"),
        ((F.col("id") % n) * 2250 + 1125).alias("lon_centi"),
        ((F.col("id") / n).cast("long") * 1125 + 562).alias("lat_centi"),
    )
    pages = pages.withColumn(
        "cell_id",
        F.expr(GR.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")),
    )
    q = spark.range(50_000).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 37) % 18000).alias("lat_centi"),
        ((F.col("id") * 73) % 36000).alias("lon_centi"),
    )
    rounds = _recorded_rounds(monkeypatch)
    out = K.knn(q, pages, res, k=1)
    assert len(rounds) == 1
    plan = _executed(rounds[0])
    assert len(plan) < 200_000, f"plan string {len(plan)} chars — literal blowup?"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert out.count() == 50_000


def test_knn_join_matches_disk_bounded_brute(pages_geo, spark):
    """knn_join == a driver-side brute force applying the identical
    Chebyshev cell bound (wrap in x, clamp in y) and wrapped metric —
    row-for-row including ranks (total order tie-break)."""
    from pyspark.sql import functions as F

    from eodal_spark.operators import text as TX

    radius, k, n = 2, 3, 1 << RES
    probes = TX.hash_sample(pages_geo, "url", 20).select(
        F.col("url").alias("query_id"), "lat_centi", "lon_centi"
    )
    got = sorted(
        (r.query_id, r.url, r.sqdist, r.rank)
        for r in K.knn_join(probes, pages_geo, RES, k=k, radius=radius).collect()
    )
    pages = pages_geo.select("url", "lat_centi", "lon_centi").collect()
    want = []
    for q in probes.collect():
        qx, qy = q.lon_centi * n // 36000, q.lat_centi * n // 18000
        cand = []
        for p in pages:
            px, py = p.lon_centi * n // 36000, p.lat_centi * n // 18000
            dx = min(abs(px - qx), n - abs(px - qx))
            if dx > radius or abs(py - qy) > radius:
                continue
            dlat = p.lat_centi - q.lat_centi
            adlon = abs(p.lon_centi - q.lon_centi)
            dlon = min(adlon, 36000 - adlon)
            cand.append((dlat * dlat + dlon * dlon, p.url))
        cand.sort()
        for rank, (d, url) in enumerate(cand[:k], start=1):
            want.append((q.query_id, url, d, rank))
    assert got == sorted(want)
    # left ⊂ right ⇒ every probe's rank-1 is itself at distance 0
    top = {
        r.query_id: (r.url, r.sqdist)
        for r in K.knn_join(probes, pages_geo, RES, k=1, radius=radius).collect()
    }
    for qid, (url, d) in top.items():
        assert d == 0 and url == qid


def test_knn_join_plan_has_no_broadcast_of_big_sides(pages_geo, spark):
    """The kNN join must stay a shuffle join: neither layer may be
    planned as a broadcast build (both are 'large' by contract)."""
    from pyspark.sql import functions as F

    probes = pages_geo.select(
        F.col("url").alias("query_id"), "lat_centi", "lon_centi"
    )
    plan = (
        K.knn_join(probes, pages_geo, RES, k=3, radius=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# a 10 × 10 block of pages 20 centi-deg apart around (9000, 18000)
DENSE_PAGES = [
    (1000 + 10 * i + j, 18000 + 20 * i, 9000 + 20 * j)
    for i in range(10) for j in range(10)
]
# more than _TINY_QUERY_ROWS queries inside that block
DENSE_QUERIES = [
    (i, 9000 + (i * 7) % 180, 18000 + (i * 13) % 180) for i in range(299)
]

# (name, res, pages, stored cell_id, queries, knn kwargs, query ids
# that must take the brute pass): each fixture drives a different
# ladder branch
LADDER_CASES = [
    # round 1 empty → ×4 escalation resolves
    ("sparse_escalation", RES, SPARSE_PAGES, True, [(1, 9000, 18000)],
     dict(k=3, start_radius=2, max_rounds=3), set()),
    # polar query (y=0, res 3): the radius-4 disk spans every x but
    # only y ≤ 4; the closer page 2 (y=5) lies outside it, so full
    # coverage must wait for radius 7 (the y clamp), not 2r+1 ≥ 8
    ("polar_y_clamp", 3, [(1, 17100, 10000), (2, 100, 11300)], True,
     [(1, 1000, 100)], dict(k=1, start_radius=4, max_rounds=3), set()),
    # wrapped metric: the nearest pages sit across ±180°
    ("date_line", RES, [(100, 1, 9000), (101, 3, 9000), (102, 30000, 9000)],
     True, [(1, 9000, 35999)], dict(k=2), set()),
    # query 2 sits in an empty polar region: its ×4 radius passes
    # max_ring_radius and it overflows to brute while query 1 resolves
    ("empty_beyond_max_ring_radius", RES, SPARSE_PAGES, True,
     [(1, 9000, 18000), (2, 500, 100)], dict(k=2, max_ring_radius=8), {2}),
    # a set above the tiny-set threshold over a stored scan
    ("large_set_stored", RES, DENSE_PAGES, True, DENSE_QUERIES, dict(k=3),
     set()),
    # the same set plus an empty-region query over a COMPUTED cell_id:
    # with no candidates in its disk it goes straight to brute, where a
    # prunable scan would try the ×4 ring first
    ("large_set_computed_zero_evidence", RES, DENSE_PAGES, False,
     DENSE_QUERIES + [(299, 500, 100)], dict(k=3), {299}),
]


@pytest.mark.parametrize("url_type", ["long", "string"])
@pytest.mark.parametrize(
    "name,res,page_rows,stored,q_rows,kw,brute_ids",
    LADDER_CASES,
    ids=[c[0] for c in LADDER_CASES],
)
def test_ladder_matches_brute(
    spark, tmp_path, monkeypatch, url_type, name, res, page_rows, stored,
    q_rows, kw, brute_ids,
):
    """The ring ladder and knn_brute return the same rows and the same
    schema, and exactly the expected queries take the brute pass."""
    from pyspark.sql import functions as F

    from eodal_spark import grid as GR

    if stored:
        pages = _stored_pages(spark, tmp_path, page_rows, res, url_type)
    else:
        pages = spark.createDataFrame(
            [(u if url_type == "long" else f"u{u:04d}", lon, lat)
             for u, lon, lat in page_rows],
            f"url {url_type}, lon_centi long, lat_centi long",
        ).withColumn(
            "cell_id",
            F.expr(GR.sql_cell_encode_centi("lon_centi", "lat_centi", res, "spark")),
        )
    q = spark.createDataFrame(q_rows, "query_id long, lat_centi long, lon_centi long")

    def answer(df):
        return df.schema, sorted(
            (r.query_id, r.url, r.sqdist, r.rank) for r in df.collect()
        )

    brute_sides = []
    brute_topk = K._brute_topk

    def recording(pages_side, q_side, k):
        brute_sides.append(q_side)
        return brute_topk(pages_side, q_side, k)

    with monkeypatch.context() as m:
        m.setattr(K, "_brute_topk", recording)
        ladder = answer(K.knn(q, pages, res, **kw))
    brute = answer(K.knn_brute(q, pages, kw["k"]))
    assert ladder == brute
    assert len(brute[1]) == len(q_rows) * min(kw["k"], len(page_rows))
    assert {r.query_id for s in brute_sides for r in s.collect()} == brute_ids


def test_knn_tiny_set_jobs_and_local_answer(spark, tmp_path):
    """One query over a stored cell-sorted parquet table: knn() runs at
    most 4 Spark jobs (the query collect, then one ring round's
    broadcast, shuffle and collect) and collecting its answer runs none
    — the answer is a local relation, not a lazy plan over round
    caches."""
    geo = P.geocode(P.synth_pages(spark, 20_000), RES).select(
        "url", "cell_id", "lat_centi", "lon_centi"
    )
    path = str(tmp_path / "cell_sorted")
    geo.repartitionByRange(8, "cell_id").sortWithinPartitions(
        "cell_id"
    ).write.parquet(path)
    table = spark.read.parquet(path)
    q = spark.createDataFrame(
        [(1, 13737, 18854)], "query_id long, lat_centi long, lon_centi long"
    )
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    out, call_jobs = jobs_of("knn_tiny_call", lambda: K.knn(q, table, RES, k=5))
    rows, action_jobs = jobs_of("knn_tiny_action", out.collect)
    assert call_jobs <= 4, call_jobs
    assert action_jobs == 0, action_jobs
    brute = K.knn_brute(q, table, 5).collect()
    assert len(rows) == 5
    assert sorted(map(tuple, rows)) == sorted(map(tuple, brute))


def _cache_entries(spark) -> set:
    """Identities of the entries in Spark's CacheManager (its entry
    list is private: read through JVM reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    ident = spark._jvm.java.lang.System.identityHashCode
    return {ident(entries.apply(i)) for i in range(entries.size())}


def test_knn_leaves_no_cache_entry(spark, tmp_path):
    """A 300-query knn over a stored table, collected: the call adds
    no entry to Spark's CacheManager, so nothing stays pinned once the
    answer is on the driver."""
    pages = _stored_pages(spark, tmp_path, DENSE_PAGES, RES)
    rows = DENSE_QUERIES + [(299, 9090, 18090)]
    q = spark.createDataFrame(rows, "query_id long, lat_centi long, lon_centi long")
    before = _cache_entries(spark)
    got = K.knn(q, pages, RES, k=3).collect()
    assert len(got) == len(rows) * 3
    assert _cache_entries(spark) - before == set()
