"""Physical-plan assertions — the 100 TB questions asked of .explain():
does the scan prune columns, do filters push down, does the big side
avoid shuffling, is the dedup aggregation partial, is codegen live."""

from __future__ import annotations

import re
from functools import reduce

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from eodal_spark.mapper import headline_stages
from eodal_spark.operators import spatial_join as SJ
from eodal_spark.sources import pages as P


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    P.synth_pages(spark, 20_000).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _headline(spark, pages):
    stages = headline_stages(E._polys_spark(spark), E.RES, E.JOIN_RES, E.TILE_RES)
    return reduce(lambda df, stage: stage[1](df), stages, pages)


def test_column_pruning_reaches_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).select("lang")
    plan = _plan(df)
    assert "ReadSchema: struct<lang:string>" in plan  # html never read


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).filter(F.col("lang") == "en")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan


def test_frozen_bench_headline_matches_library_stages(spark, pages_parquet):
    """bench.py keeps its own copy of the headline job; it must stay the
    same query as `headline_stages` (expression ids aside)."""
    import bench

    def optimized(df) -> str:
        return re.sub(r"#\d+", "", df._jdf.queryExecution().optimizedPlan().toString())

    frozen = bench.headline_pipeline(spark, pages_parquet)
    library = _headline(spark, spark.read.parquet(pages_parquet))
    assert optimized(frozen) == optimized(library)


def test_headline_has_single_data_shuffle(spark, pages_parquet):
    deduped = _headline(spark, spark.read.parquet(pages_parquet))
    # collect() executes THIS Dataset's queryExecution so AQE reports
    # the final plan (count() would wrap a new plan); drop the echoed
    # "Initial Plan" section before counting nodes
    deduped.collect()
    plan = _plan(deduped).split("== Initial Plan ==")[0]
    # big side joins via broadcast (no SortMergeJoin / no shuffle
    # before the join) …
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # … and the only data exchange is the dedup aggregation shuffle
    data_exchanges = [
        l for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(data_exchanges) == 1, data_exchanges
    # the dedup agg combines map-side (partial_min before the exchange)
    assert "partial_min" in plan
    # the probe side runs inside whole-stage codegen (compact marker *(n))
    assert "*(" in plan


def test_geocode_has_no_python_stage(spark, pages_parquet):
    geo = P.geocode(spark.read.parquet(pages_parquet), E.RES)
    plan = _plan(geo)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan  # geocode is 100% JVM


def test_no_nullable_join_key_filter(spark, pages_parquet):
    """Regression: nullable cell_id used to make Catalyst infer
    isnotnull(key) and inline the regexp chain 4x into a pushed filter."""
    geo = P.geocode(spark.read.parquet(pages_parquet), E.RES)
    j = SJ.spatial_join(
        geo, E._polys_spark(spark), E.JOIN_RES, rule="centroid",
        page_res=E.RES,
    )
    assert "Filter isnotnull" not in _plan(j)


def test_knn_pages_side_not_shuffled(spark, pages_parquet, monkeypatch):
    from eodal_spark.operators import knn as K

    geo = P.geocode(spark.read.parquet(pages_parquet), E.RES)
    # enough queries to stay above the tiny-set brute threshold — this
    # test pins the LADDER's ring-round plan shape (tiny sets over this
    # computed cell_id short-circuit to the brute pass, covered by
    # test_knn_tiny_query_set_unprunable_goes_brute)
    rows = [
        (i, E.KNN_QUERIES[i % len(E.KNN_QUERIES)][1],
         E.KNN_QUERIES[i % len(E.KNN_QUERIES)][2])
        for i in range(600)
    ]
    q = spark.createDataFrame(rows, ["query_id", "lat_centi", "lon_centi"])
    rounds = []
    ring_topk = K._ring_topk

    def recording(*args):
        rounds.append(ring_topk(*args))
        return rounds[-1]

    monkeypatch.setattr(K, "_ring_topk", recording)
    K.knn(q, geo, E.RES, k=3)
    assert rounds
    for r in rounds:  # ring side broadcast, pages probe
        assert "BroadcastHashJoin" in _plan(r)


def test_driver_cover_runs_zero_jobs(spark):
    """polygon_cover_cells over a polygons_df layer must run ZERO Spark
    jobs: the layer is a LocalRelation, so the cover's bounded
    limit-collect reads the rows from the plan, and the cover it
    returns is a LocalRelation too."""
    from eodal_spark import geometry

    polys = E.geometry.polygons_df(spark, E.PAGE_POLYS)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    cover = geometry.polygon_cover_cells(polys, E.JOIN_RES)
    after = set(tracker.getJobIdsForGroup())
    assert len(after - before) == 0, sorted(after - before)
    assert cover.count() > 0  # cover itself is a local relation


def test_exact_spatial_join_single_pass_no_python(spark, pages_parquet):
    """Exact-rule refine is single-pass: ONE scan of the pages side,
    one broadcast join, no unions, and zero Python stages (convex
    min-cross + even-odd rings are both native Catalyst)."""
    geo = P.geocode(spark.read.parquet(pages_parquet), E.RES)
    polys = E.geometry.polygons_df(spark, E.HOLED_POLYS + [(9, E.PAGE_POLYS[0][1])])
    j = SJ.spatial_join(geo, polys, E.JOIN_RES, rule="exact", page_res=E.RES)
    plan = _plan(j)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, scans                    # pages scanned once
    assert "Union" not in plan                       # no 3-branch union
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan                    # refine is 100% JVM
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "ExistingRDD" not in plan                 # rings from the plan


def test_attr_layer_spatial_join_runs_zero_jobs(spark, pages_parquet):
    """A polygons_df layer with attribute columns is still a
    LocalRelation: the centroid spatial join decides its broadcast and
    builds its cover without running a job before the action."""
    geo = P.geocode(spark.read.parquet(pages_parquet), E.RES)
    polys = E.geometry.polygons_df(
        spark, E.PAGE_POLYS, {1: {"name": "first"}, 2: {"rank": 2}}
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    j = SJ.spatial_join(
        geo, polys, E.JOIN_RES, page_res=E.RES, poly_cols=("poly_id", "name")
    )
    after = set(tracker.getJobIdsForGroup())
    assert len(after - before) == 0, sorted(after - before)
    assert j.count() > 0
    # attributes ride on the layer rows: NULL where a polygon has none
    assert dict(polys.dtypes)["rank"] == "bigint"
    got = {r.poly_id: (r.name, r.rank) for r in polys.collect()}
    assert got == {1: ("first", None), 2: (None, 2), 3: (None, None), 4: (None, None)}
