"""Metrics/lineage, snapshot catalog + resume, multimodal plumbing,
streaming ingest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import multimodal as MM
from eodal_spark.plans import metrics as M
from eodal_spark.sources.catalog import ResumablePipeline, SnapshotCatalog


def test_partition_metrics(spark):
    df = spark.range(1000).repartition(7)
    m = M.partition_metrics(df, "stage_x").collect()
    assert sum(r["rows"] for r in m) == 1000
    assert all(r["stage"] == "stage_x" for r in m)
    assert len(m) == 7


def test_append_stage_metrics(spark, tmp_path):
    d = str(tmp_path / "metrics")
    os.makedirs(d)
    rec = M.append_stage_metrics(spark.range(500), "s1", d)
    assert rec["rows"] == 500
    with open(os.path.join(d, "lineage.jsonl")) as f:
        line = json.loads(f.readline())
    assert line["stage"] == "s1" and line["rows"] == 500
    stored = spark.read.parquet(os.path.join(d, "partition_metrics"))
    assert stored.agg(F.sum("rows")).first()[0] == 500


def test_snapshot_catalog_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    s1 = cat.write(spark.range(10), "t")
    s2 = cat.write(spark.range(20), "t")
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    assert s2["parent_id"] == 1
    assert cat.read(spark, "t").count() == 20
    assert cat.read(spark, "t", snapshot_id=1).count() == 10
    cat.rollback("t", 1)
    assert cat.read(spark, "t").count() == 10


def test_sorted_write_prunes(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat2"))
    df = spark.range(100_000).select((F.col("id") * 37 % 1000).alias("cell_id"), "id")
    cat.write(df, "pages", sort_by=("cell_id",))
    back = cat.read(spark, "pages").filter("cell_id = 5")
    assert back.count() == 100  # correctness after sorted layout


def test_resumable_pipeline_skips_done_stages(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat3"))
    calls = {"n": 0}

    def stage_fn():
        calls["n"] += 1
        return spark.range(5)

    p1 = ResumablePipeline(cat, spark)
    out1 = p1.stage("s_a", stage_fn)
    assert out1.count() == 5 and calls["n"] == 1 and p1.executed == ["s_a"]
    p2 = ResumablePipeline(cat, spark)
    out2 = p2.stage("s_a", stage_fn)
    assert out2.count() == 5 and calls["n"] == 1 and p2.skipped == ["s_a"]


def test_multimodal_feature_extraction(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x10\x20\x30" * 8)), (2, bytearray(b""))],
        ["doc_id", "payload"],
    )
    out = {r["doc_id"]: r for r in MM.extract_features(df, dim=4).collect()}
    assert out[1]["n_bytes"] == 32
    assert len(out[1]["feature"]) == 4
    assert out[2]["n_bytes"] == 0 and list(out[2]["feature"]) == [0.0] * 4
    # deterministic fake decode: mean of bytes 0x00,0x10,0x20,0x30 = 24
    assert out[1]["byte_mean_milli"] == 24000


def test_multimodal_frame_sample(spark):
    df = spark.createDataFrame([(1, bytearray(bytes(range(40))))], ["id", "payload"])
    out = MM.frame_sample(df, "payload", every_n=2, frame_bytes=10).first()
    assert len(out["frames"]) == 2  # frames 0 and 2 of 4
    assert bytes(out["frames"][0]) == bytes(range(10))
    assert bytes(out["frames"][1]) == bytes(range(20, 30))


def test_real_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        MM.real_decode(b"\x89PNG")


def test_streaming_windowed_counts(spark, tmp_path):
    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    # file-source stream over a small static pages table (deterministic)
    src = str(tmp_path / "src")
    P.synth_pages(spark, 2000).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = ingest.windowed_cell_counts(
        stream, res=6, window="1 hour", watermark="0 seconds"
    )
    out_dir = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only *closed* windows: with a 0s watermark the
    # final watermark is max(warc_ts), so every window except the one
    # still containing max(warc_ts) must have been emitted — correct
    # late-data semantics, not data loss
    got = spark.read.parquet(out_dir)
    max_ts = spark.read.parquet(src).agg(F.max("warc_ts")).first()[0]
    batch_closed = (
        P.geocode(spark.read.parquet(src), 6)
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .filter(F.col("win.end") <= F.lit(max_ts))
    )
    assert (
        got.agg(F.sum("n_pages")).first()[0]
        == batch_closed.agg(F.sum("n_pages")).first()[0]
    )
    assert got.count() == batch_closed.count()
    # per-(window, cell) counts are identical
    mism = (
        got.alias("g")
        .join(batch_closed.alias("b"), ["win", "cell_id"], "full")
        .filter("g.n_pages IS DISTINCT FROM b.n_pages")
        .count()
    )
    assert mism == 0


def test_streaming_session_windows(spark, tmp_path):
    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "sess_src")
    P.synth_pages(spark, 1500).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = ingest.session_windowed_counts(stream, res=5, gap="30 minutes")
    out_dir, chk = str(tmp_path / "sess_out"), str(tmp_path / "sess_chk")
    q = (
        agg.writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", chk).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    # batch twin: identical session_window grouping, closed sessions only
    from pyspark.sql import functions as F

    geo = P.geocode(spark.read.parquet(src), 5)
    max_ts = geo.agg(F.max("warc_ts")).first()[0]
    batch = (
        geo.groupBy(F.session_window("warc_ts", "30 minutes").alias("sess"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .filter(F.col("sess.end") <= F.lit(max_ts))
    )
    assert got.count() == batch.count()
    mism = (
        got.alias("g").join(batch.alias("b"), ["sess", "cell_id"], "full")
        .filter("g.n_pages IS DISTINCT FROM b.n_pages").count()
    )
    assert mism == 0


def test_stateful_cell_counter(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "state_src")
    # two files -> with maxFilesPerTrigger=1, two micro-batches so the
    # state genuinely carries across batches
    P.synth_pages(spark, 1000).write.parquet(src)
    P.synth_pages(spark, 2000).filter("url LIKE '%1_'").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    counted = ingest.stateful_cell_counter(stream, res=4)
    q = (
        counted.writeStream.format("memory").queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_chk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("state_out")
    finals = got.groupBy("cell_id").agg(F.max("running_count").alias("n"))
    expect = (
        P.geocode(spark.read.parquet(src), 4).groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert finals.count() == expect.count()
    mism = (
        finals.alias("g").join(expect.alias("b"), "cell_id", "full")
        .filter("g.n IS DISTINCT FROM b.n").count()
    )
    assert mism == 0
    # multiple micro-batches actually happened (some cell emitted twice)
    assert got.count() > finals.count()


def test_pipeline_e2e_resume_and_metrics(spark, tmp_path):
    """North-rule integration: checkpointed stages + lineage metrics +
    resume skipping completed work."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import run_pipeline

    wh = str(tmp_path / "wh")
    r1 = run_pipeline.run(spark, wh, 20_000)
    assert r1["executed"] == ["pages", "geocoded", "joined", "mosaic"]
    assert r1["mosaic_rows"] > 0
    assert all(rec["rows"] > 0 for rec in r1["lineage"])
    # metrics table holds one row per (stage, partition)
    m = spark.read.parquet(os.path.join(wh, "_metrics", "partition_metrics"))
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert stages == {"pages", "geocoded", "joined", "mosaic"}
    # resume: second run skips everything, result identical
    r2 = run_pipeline.run(spark, wh, 20_000)
    assert r2["executed"] == [] and r2["skipped"] == [
        "pages", "geocoded", "joined", "mosaic",
    ]
    assert r2["mosaic_rows"] == r1["mosaic_rows"]
    # partial resume: drop the last stage's snapshot -> only it re-runs
    import shutil

    shutil.rmtree(os.path.join(wh, "mosaic"))
    r3 = run_pipeline.run(spark, wh, 20_000)
    assert r3["executed"] == ["mosaic"]
    assert r3["mosaic_rows"] == r1["mosaic_rows"]


def test_doc_counts_are_in_sync():
    """The test and query counts README.md and COVERAGE.md quote are
    the ones the code has (`scripts/counts_sync.py --check`)."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "counts_sync.py"), "--check"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout + p.stderr[-2000:]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed co-located join: same-bucketed tables join without a
    shuffle (the repeated-join strategy for cell-keyed tables)."""
    from eodal_spark.sources.catalog import write_bucketed
    from eodal_spark.sources.pages import geocode, synth_pages

    geo = geocode(synth_pages(spark, 5_000), 8).select("url", "cell_id")
    agg = geo.groupBy("cell_id").count()
    write_bucketed(geo, "pages_b", "cell_id", 8, sort_col="cell_id")
    write_bucketed(agg, "cells_b", "cell_id", 8)
    a = spark.table("pages_b")
    b = spark.table("cells_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, "cell_id")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        assert "Exchange" not in plan  # bucket-aligned: zero shuffle
        assert j.count() == a.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS pages_b")
        spark.sql("DROP TABLE IF EXISTS cells_b")


def test_streaming_mosaic_dedup_matches_batch(spark, tmp_path):
    """Streaming first-wins mosaic carries (min ts_sec, url) state across
    micro-batches; its final per-key winners equal the batch
    mosaic_dedup on the same rows, and a late losing row emits nothing."""
    from pyspark.sql import functions as F

    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "mosaic_src")
    # batch 2 rows are a subset re-shuffled in: every key they touch
    # already has a winner at least as small -> re-delivery is a no-op
    P.synth_pages(spark, 3000).write.parquet(src)
    P.synth_pages(spark, 3000).filter("url LIKE '%7'").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    res = 6
    out = ingest.streaming_mosaic_dedup(stream, res=res)
    q = (
        out.writeStream.format("memory").queryName("mosaic_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mosaic_chk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("mosaic_out")
    # last emitted winner per key (min over emissions — winners only improve)
    finals = got.groupBy("cell_id", "ts_bucket").agg(
        F.min(F.struct("ts_us", "url")).alias("w")
    ).select("cell_id", "ts_bucket", "w.ts_us", "w.url")

    geo = P.geocode(spark.read.parquet(src), res)
    geo = geo.withColumn(
        "ts_us", F.unix_micros(F.col("warc_ts").cast("timestamp"))
    )
    geo = geo.withColumn("ts_bucket", F.expr(f"ts_us div {86_400 * 30 * 1_000_000}"))
    expect = (
        geo.groupBy("cell_id", "ts_bucket")
        .agg(F.min(F.struct("ts_us", "url")).alias("w"))
        .select("cell_id", "ts_bucket", "w.ts_us", "w.url")
    )
    assert finals.count() == expect.count()
    mism = (
        finals.alias("g").join(expect.alias("b"), ["cell_id", "ts_bucket"], "full")
        .filter("g.url IS DISTINCT FROM b.url OR g.ts_us IS DISTINCT FROM b.ts_us")
        .count()
    )
    assert mism == 0


def test_run_available_now_update_mode(spark, tmp_path):
    """The drain helper must handle update-mode stateful streams (file
    sinks are append-only → foreachBatch path)."""
    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "drain_src")
    P.synth_pages(spark, 500).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    mosaic = ingest.streaming_mosaic_dedup(stream, res=6)
    out = str(tmp_path / "drain_out")
    ingest.run_available_now(
        mosaic, str(tmp_path / "drain_chk"), out, output_mode="update"
    )
    got = spark.read.parquet(out)
    n = got.count()
    assert n > 0
    # batch_id partition dir = per-batch lineage + the idempotency key
    assert set(got.columns) == {"cell_id", "ts_bucket", "ts_us", "url", "batch_id"}

    # exactly-once: replaying a batch id that already has a _SUCCESS
    # marker must be a no-op (crash between write and checkpoint commit)
    import os

    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert batch_dirs
    assert os.path.exists(os.path.join(out, batch_dirs[0], "_SUCCESS"))
    # second drain over the same checkpoint is a no-op (all data seen)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    ingest.run_available_now(
        ingest.streaming_mosaic_dedup(stream2, res=6),
        str(tmp_path / "drain_chk"), out, output_mode="update",
    )
    assert spark.read.parquet(out).count() == n


def test_manifest_file_stats_recorded(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "stats_cat"))
    df = spark.range(50_000).select(
        (F.col("id") % 500).alias("cell_id"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    snap = cat.write(df, "t", sort_by=("cell_id",))
    files = cat._snap_files(snap)
    assert files, "manifest must carry per-file entries"
    # bounds cover the domain and are disjoint-ish under range partitioning
    lo = min(f["stats"]["cell_id"]["min"] for f in files)
    hi = max(f["stats"]["cell_id"]["max"] for f in files)
    assert (lo, hi) == (0, 499)
    for f in files:
        s = f["stats"]["cell_id"]
        assert s["min"] <= s["max"]
    # stats survive the JSON round-trip (manifest reread from disk)
    assert cat._snap_files(cat.snapshots("t")[-1]) == files


def test_manifest_pruned_scan_skips_files(spark, tmp_path):
    """Iceberg-manifest analogue, measured: scan() lists only the files
    whose min/max overlap the predicate — the FileScan's numFiles metric
    must be below the snapshot total — and returns exactly what a full
    read + filter returns."""
    cat = SnapshotCatalog(str(tmp_path / "prune_cat"))
    df = spark.range(200_000).select(
        (F.col("id") % 1000).alias("cell_id"), F.col("id").alias("v")
    )
    snap = cat.write(df, "t", sort_by=("cell_id",), n_files=10)
    n_files = len(cat._snap_files(snap))
    assert n_files > 4  # pruning needs something to prune

    pruned = cat.scan(spark, "t", {"cell_id": (10, 30)})
    expect = cat.read(spark, "t").filter("cell_id between 10 and 30")
    assert sorted(r.v for r in pruned.collect()) == sorted(
        r.v for r in expect.collect()
    )

    leaves = pruned._jdf.queryExecution().executedPlan().collectLeaves()
    scan = leaves.apply(0)
    read_files = scan.metrics().apply("numFiles").value()
    assert read_files < n_files, (read_files, n_files)


def test_manifest_scan_empty_selection_and_no_stats(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "edge_cat"))
    df = spark.range(1_000).select((F.col("id") % 10).alias("cell_id"))
    cat.write(df, "t", sort_by=("cell_id",))
    # empty selection: no file overlaps → schema-stable empty result
    out = cat.scan(spark, "t", {"cell_id": (5000, 6000)})
    assert out.columns == ["cell_id"] and out.count() == 0
    # unsorted write → no files entry → conservative full read, residual
    cat.write(df, "plain")
    out2 = cat.scan(spark, "plain", {"cell_id": (3, 4)})
    assert out2.count() == 200


def test_manifest_scan_string_stats(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "str_cat"))
    df = spark.range(20_000).select(
        F.concat(F.lit("k"), F.lpad(F.col("id") % 100, 3, "0")).alias("key"),
        "id",
    )
    cat.write(df, "t", sort_by=("key",))
    pruned = cat.scan(spark, "t", {"key": ("k010", "k019")})
    assert pruned.count() == 2_000


def test_manifest_scan_morton_or_ranges(spark, tmp_path):
    """Three-level skipping stack: Morton-sorted snapshot + manifest
    file pruning on the OR-of-BETWEEN ranges grid.morton_ranges plans
    for a bbox + row-group stats inside surviving files.  Results must
    equal the plain bbox filter on the full table."""
    import numpy as np

    from eodal_spark import grid
    from eodal_spark.sources import pages as P

    res = 8
    geo = (
        P.geocode(P.synth_pages(spark, 40_000), res)
        .select("url", "cell_id", "lon_centi", "lat_centi")
        .withColumn("morton", grid.cell_morton("cell_id"))
    )
    cat = SnapshotCatalog(str(tmp_path / "zcat"))
    snap = cat.write(geo, "z", sort_by=("morton",), n_files=16)

    lon = np.arange(7.0, 10.0, 0.2)
    lat = np.arange(45.0, 49.0, 0.2)
    gx, gy = np.meshgrid(lon, lat)
    cells = np.unique(grid.np_cell_encode(gx.ravel(), gy.ravel(), res))
    ranges = [(int(lo), int(hi)) for lo, hi in grid.morton_ranges(cells, max_ranges=8)]

    pruned = cat.scan(spark, "z", {"morton": ranges})
    import functools
    import operator

    pred = functools.reduce(
        operator.or_,
        [(F.col("morton") >= lo) & (F.col("morton") <= hi) for lo, hi in ranges],
    )
    expect = {r.url for r in cat.read(spark, "z").filter(pred).collect()}
    assert {r.url for r in pruned.collect()} == expect
    leaves = pruned._jdf.queryExecution().executedPlan().collectLeaves()
    read_files = leaves.apply(0).metrics().apply("numFiles").value()
    assert read_files < len(cat._snap_files(snap)), (read_files, len(cat._snap_files(snap)))


def test_update_drain_refuses_foreign_checkpoint_batches(spark, tmp_path):
    """Exactly-once guard: batch dirs record which checkpoint wrote them;
    a new checkpoint reusing the same out_dir must RAISE on the id
    collision instead of silently swallowing its batches."""
    import pytest

    from eodal_spark.streaming import ingest as I

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    spark.range(5).selectExpr("id", "current_timestamp() as ts").write.mode(
        "overwrite"
    ).parquet(src_dir)
    out = str(tmp_path / "out")

    def drain(ckpt):
        stream = (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(src_dir)
            .groupBy("id")
            .count()
        )
        I.run_available_now(
            stream, str(tmp_path / ckpt), out, output_mode="update"
        )

    drain("ck1")
    n1 = spark.read.parquet(out).count()
    assert n1 == 5
    with pytest.raises(Exception, match="different checkpoint"):
        drain("ck2")


def test_append_snapshot_reuses_parent_files(spark, tmp_path):
    """Iceberg append-commit contract: an append snapshot references the
    parent's data files instead of rewriting them — commit cost is
    O(new data), the parent's bytes stay untouched."""
    import glob

    cat = SnapshotCatalog(str(tmp_path / "app_cat"))
    s1 = cat.write(
        spark.range(1000).select((F.col("id") % 50).alias("cell_id"), "id"),
        "t", sort_by=("cell_id",), n_files=4,
    )
    v1_files = sorted(glob.glob(os.path.join(s1["path"], "*.parquet")))
    v1_mtimes = [os.path.getmtime(p) for p in v1_files]

    s2 = cat.write(
        spark.range(1000, 1500).select(
            (F.col("id") % 50).alias("cell_id"), "id"
        ),
        "t", sort_by=("cell_id",), n_files=2, mode="append",
    )
    assert s2["row_count"] == 1500
    assert len(cat._snap_files(s2)) == 6  # 4 inherited + 2 new
    # dirs are v{sid}-{uuid}: assert the SEQUENCE prefixes (the uuid
    # suffix exists so racing writers can never share a data dir)
    assert {f["dir"].split("-")[0] for f in cat._snap_files(s2)} == {"v1", "v2"}
    # parent bytes untouched
    assert [os.path.getmtime(p) for p in v1_files] == v1_mtimes

    assert cat.read(spark, "t").count() == 1500
    assert cat.read(spark, "t", snapshot_id=1).count() == 1000
    # manifest pruning still spans BOTH dirs
    got = cat.scan(spark, "t", {"cell_id": (10, 12)})
    assert got.count() == 20 * 3 + 10 * 3


def test_read_changes_incremental(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "chg_cat"))
    cat.write(spark.range(100).selectExpr("id"), "t", n_files=2)
    cat.write(
        spark.range(100, 160).selectExpr("id"), "t", n_files=2, mode="append"
    )
    cat.write(
        spark.range(160, 200).selectExpr("id"), "t", n_files=1, mode="append"
    )
    delta = cat.read_changes(spark, "t", from_snapshot=1)
    assert sorted(r.id for r in delta.collect()) == list(range(100, 200))
    d2 = cat.read_changes(spark, "t", from_snapshot=2, to_snapshot=3)
    assert sorted(r.id for r in d2.collect()) == list(range(160, 200))
    # empty delta keeps the schema
    d0 = cat.read_changes(spark, "t", from_snapshot=3)
    assert d0.count() == 0 and d0.columns == ["id"]


def test_read_changes_rejects_overwrite_in_range(spark, tmp_path):
    import pytest

    cat = SnapshotCatalog(str(tmp_path / "ovw_cat"))
    cat.write(spark.range(10), "t", n_files=1)
    cat.write(spark.range(5), "t", n_files=1)  # overwrite
    with pytest.raises(ValueError, match="overwrite"):
        cat.read_changes(spark, "t", from_snapshot=1)


def test_expire_snapshots_keeps_shared_files(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "exp_cat"))
    cat.write(spark.range(100).selectExpr("id"), "t", n_files=2)
    cat.write(
        spark.range(100, 150).selectExpr("id"), "t", n_files=1, mode="append"
    )
    cat.write(spark.range(999).selectExpr("id"), "t", n_files=1)  # overwrite
    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == [1]
    # v1's dir survives: snapshot 2 (kept) still references its files
    assert cat.read(spark, "t", snapshot_id=2).count() == 150
    assert cat.read(spark, "t").count() == 999
    # expiring down to the overwrite-only tail deletes v1+v2
    expired = cat.expire_snapshots("t", keep_last=1)
    assert expired == [2]
    assert not os.path.exists(os.path.join(str(tmp_path / "exp_cat"), "t", "v1"))
    assert cat.read(spark, "t").count() == 999
    import pytest

    with pytest.raises(KeyError):
        cat.read(spark, "t", snapshot_id=2)


def test_write_after_expire_does_not_collide(spark, tmp_path):
    """Regression: snapshot ids are max+1, not len+1 — after expiry
    truncates the front of the list, a new commit must NOT reuse (and
    clobber the v-dir of) a surviving snapshot's id."""
    cat = SnapshotCatalog(str(tmp_path / "sid_cat"))
    cat.write(spark.range(10), "t", n_files=1)
    cat.write(spark.range(20), "t", n_files=1)
    cat.write(spark.range(30), "t", n_files=1)
    cat.expire_snapshots("t", keep_last=1)  # only id 3 remains
    s4 = cat.write(spark.range(40), "t", n_files=1)
    assert s4["snapshot_id"] == 4 and s4["parent_id"] == 3
    assert cat.read(spark, "t", snapshot_id=3).count() == 30  # unclobbered
    assert cat.read(spark, "t").count() == 40


def test_compact_preserves_rows_and_restores_layout(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cmp_cat"))
    cat.write(
        spark.range(10_000).select((F.col("id") % 100).alias("cell_id"), "id"),
        "t", sort_by=("cell_id",), n_files=4,
    )
    for lo in (10_000, 10_500, 11_000):
        cat.write(
            spark.range(lo, lo + 500).select(
                (F.col("id") % 100).alias("cell_id"), "id"
            ),
            "t", sort_by=("cell_id",), n_files=2, mode="append",
        )
    before = cat.current_snapshot("t")
    assert len(cat._snap_files(before)) == 10  # 4 + 3*2 small files
    s = cat.compact(spark, "t", n_files=4)
    assert len(cat._snap_files(s)) == 4
    assert s["meta"]["compacted_from"] == before["snapshot_id"]
    assert s["row_count"] == 11_500
    a = sorted(r.id for r in cat.read(spark, "t").collect())
    b = sorted(
        r.id
        for r in cat.read(spark, "t", snapshot_id=before["snapshot_id"]).collect()
    )
    assert a == b
    # compacted layout is sorted again → manifest pruning still works
    pruned = cat.scan(spark, "t", {"cell_id": (5, 5)})
    assert pruned.count() == 100 + 5 + 5 + 5


def test_read_changes_inverted_range_raises(spark, tmp_path):
    import pytest

    cat = SnapshotCatalog(str(tmp_path / "inv_cat"))
    cat.write(spark.range(10), "t", n_files=1)
    cat.write(spark.range(5, 15), "t", n_files=1, mode="append")
    with pytest.raises(ValueError, match="newer than"):
        cat.read_changes(spark, "t", from_snapshot=2, to_snapshot=1)


def test_snapshot_without_segments_raises(spark, tmp_path):
    """Every commit records its manifest segments, an empty write
    included; a snapshot record without them was not written by the
    catalog, and reading it raises instead of guessing its files."""
    import json as J

    cat = SnapshotCatalog(str(tmp_path / "seg_cat"))
    s0 = cat.write(spark.range(0), "t", n_files=1)
    assert s0["segments"] is not None
    s1 = cat.write(spark.range(100), "t", n_files=2, mode="append")
    assert s1["segments"]
    mp = os.path.join(str(tmp_path / "seg_cat"), "t", "manifest.json")
    man = J.load(open(mp))
    man["snapshots"][-1].pop("segments")
    J.dump(man, open(mp, "w"))
    with pytest.raises(ValueError, match="no manifest segments"):
        cat.read(spark, "t")


def test_append_schema_evolution_merges(spark, tmp_path):
    """Additive column evolution: an append batch may carry a NEW
    column; snapshot reads schema-merge across dirs so old rows surface
    it as NULL (Iceberg add-column semantics)."""
    cat = SnapshotCatalog(str(tmp_path / "evo_cat"))
    cat.write(spark.range(10).selectExpr("id"), "t", n_files=1)
    cat.write(
        spark.range(10, 15).selectExpr("id", "id * 2 AS score"),
        "t", n_files=1, mode="append",
    )
    cur = cat.read(spark, "t")
    assert set(cur.columns) == {"id", "score"}
    assert cur.filter("score IS NULL").count() == 10
    assert cur.filter("score IS NOT NULL").count() == 5
    # the delta carries the new column with values
    delta = cat.read_changes(spark, "t", from_snapshot=1)
    assert set(delta.columns) == {"id", "score"}
    assert delta.filter("score IS NULL").count() == 0
    # time travel to snapshot 1 keeps the OLD schema
    assert cat.read(spark, "t", snapshot_id=1).columns == ["id"]
    # the merge-on-read path surfaces the new column the same way
    cat.delete_keys(spark, "t", spark.createDataFrame([(0,), (10,)], "id bigint"))
    cur = cat.read(spark, "t")
    assert cur.filter("score IS NULL").count() == 9
    assert cur.filter("score IS NOT NULL").count() == 4


def test_delete_and_upsert_keys_may_be_columns_an_append_added(spark, tmp_path):
    """Delete and upsert keys are checked against the snapshot's
    columns (one footer per data dir), not the first file's: a column
    that a later append added is a valid key."""
    cat = SnapshotCatalog(str(tmp_path / "key_cat"))
    cat.write(spark.range(4).selectExpr("id AS k", "'a' AS url"), "t")
    cat.write(
        spark.range(4, 8).selectExpr("id AS k", "'b' AS url", "id * 10 AS extra"),
        "t", mode="append",
    )
    with pytest.raises(ValueError, match=r"\['nope'\] not in table"):
        cat.delete_keys(spark, "t", spark.createDataFrame([(1,)], "nope bigint"))
    cat.delete_keys(spark, "t", spark.createDataFrame([(50,)], "extra bigint"))
    cat.upsert(
        spark,
        spark.createDataFrame([(60, "c", 60)], "k bigint, url string, extra bigint"),
        "t", key_cols=("extra",),
    )
    got = sorted((r.k, r.extra) for r in cat.read(spark, "t").collect())
    assert got == [
        (0, None), (1, None), (2, None), (3, None), (4, 40), (7, 70), (60, 60)
    ]


def test_manifest_with_a_field_id_schema_log_is_refused(tmp_path):
    """A manifest recording a field-id schema log (renamed or dropped
    columns) is refused at load: a by-name read would return a renamed
    column's old files as NULL."""
    cat = SnapshotCatalog(str(tmp_path))
    os.makedirs(tmp_path / "t")
    (tmp_path / "t" / "manifest.json").write_text(json.dumps({
        "snapshots": [],
        "schema": {"next_id": 2, "version": 1, "fields": [], "log": []},
    }))
    with pytest.raises(ValueError, match="field-id schema log"):
        cat._load_manifest("t")


def test_compact_carries_ingest_marker(spark, tmp_path):
    """Maintenance must not erase exactly-once evidence: compact()
    carries the newest snapshot's (checkpoint, batch_id) marker, so
    compact-then-expire keeps the replay guard intact."""
    cat = SnapshotCatalog(str(tmp_path / "mk_cat"))
    cat.write(
        spark.range(10), "t", n_files=1,
        meta={"checkpoint": "/ck1", "batch_id": 7},
    )
    s = cat.compact(spark, "t", n_files=1)
    assert s["meta"]["checkpoint"] == "/ck1" and s["meta"]["batch_id"] == 7
    cat.expire_snapshots("t", keep_last=1)
    cur = cat.current_snapshot("t")
    assert cur["meta"]["batch_id"] == 7  # marker survived maintenance


def test_manifest_row_counts_and_file_metrics(spark, tmp_path):
    """Commit cost: row_count comes from the same footer reads as the
    stats (no second job), and per-file lineage is queryable."""
    cat = SnapshotCatalog(str(tmp_path / "fm_cat"))
    cat.write(spark.range(1000).selectExpr("id"), "t", n_files=4)
    s2 = cat.write(
        spark.range(1000, 1250).selectExpr("id"), "t", n_files=1,
        mode="append",
    )
    assert s2["row_count"] == 1250
    fm = cat.file_metrics(spark, "t")
    assert fm.count() == 5
    assert fm.agg(F.sum("rows")).first()[0] == 1250
    assert {
        r.dir.split("-")[0] for r in fm.select("dir").distinct().collect()
    } == {"v1", "v2"}


def test_manifest_scan_timestamp_ranges(spark, tmp_path):
    """Timestamp sort columns are JSON-ified to ISO strings in the
    manifest; a datetime (or ISO-string) user range must prune
    consistently through the same coercion — and a numeric range
    against timestamp stats must raise, not prune garbage."""
    import datetime as dt

    import pytest as _pytest

    cat = SnapshotCatalog(str(tmp_path / "ts_cat"))
    df = spark.range(10_000).select(
        F.col("id").alias("v"),
        F.timestamp_seconds(F.lit(1_583_000_000) + F.col("id") * 60).alias("ts"),
    )
    snap = cat.write(df, "t", sort_by=("ts",), n_files=8)
    assert len(cat._snap_files(snap)) > 4

    lo = dt.datetime(2020, 3, 1, 0, 0, 0)
    hi = dt.datetime(2020, 3, 1, 6, 0, 0)
    pruned = cat.scan(spark, "t", {"ts": (lo, hi)})
    expect = cat.read(spark, "t").filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
    assert sorted(r.v for r in pruned.collect()) == sorted(
        r.v for r in expect.collect()
    )
    leaves = pruned._jdf.queryExecution().executedPlan().collectLeaves()
    read_files = leaves.apply(0).metrics().apply("numFiles").value()
    assert read_files < len(cat._snap_files(snap))

    with _pytest.raises(TypeError, match="manifest"):
        cat.scan(spark, "t", {"ts": (0, 10)}).collect()


def test_manifest_scan_space_separated_timestamp_strings(spark, tmp_path):
    """'YYYY-MM-DD HH:MM:SS' string bounds sort BEFORE every isoformat
    'T' stat lexicographically — scan must normalize them or it silently
    prunes every file."""
    cat = SnapshotCatalog(str(tmp_path / "ts_str_cat"))
    df = spark.range(5_000).select(
        F.col("id").alias("v"),
        F.timestamp_seconds(F.lit(1_583_000_000) + F.col("id") * 60).alias("ts"),
    )
    cat.write(df, "t", sort_by=("ts",), n_files=4)
    got = cat.scan(
        spark, "t", {"ts": ("2020-03-01 00:00:00", "2020-03-01 06:00:00")}
    )
    expect = cat.read(spark, "t").filter(
        "ts between '2020-03-01 00:00:00' and '2020-03-01 06:00:00'"
    )
    assert sorted(r.v for r in got.collect()) == sorted(
        r.v for r in expect.collect()
    )
    assert got.count() > 0


def test_equality_deletes_merge_on_read(spark, tmp_path):
    """Iceberg-v2-style equality deletes: a delete commit removes
    matching rows from reads WITHOUT rewriting data files; time travel
    to the parent still sees them; a key re-ingested by a LATER append
    reappears (sequence semantics); compact applies deletes physically;
    pruned scans honor deletes too."""
    cat = SnapshotCatalog(str(tmp_path / "del_cat"))
    df = spark.range(1_000).select(
        F.col("id").alias("cell_id"), (F.col("id") * 2).alias("v")
    )
    s1 = cat.write(df, "t", sort_by=("cell_id",), n_files=4)

    # delete 100 keys — data files untouched, rows gone from read()
    kill = spark.range(100).select(F.col("id").alias("cell_id"))
    s2 = cat.delete_keys(spark, "t", kill)
    assert s2["mode"] == "delete"
    assert [f["name"] for f in cat._snap_files(s2)] == [
        f["name"] for f in cat._snap_files(cat.snapshots("t")[0])
    ]
    assert cat.read(spark, "t").count() == 900
    assert cat.read(spark, "t").filter("cell_id < 100").count() == 0
    # time travel BEFORE the delete still sees everything
    assert cat.read(spark, "t", snapshot_id=s1["snapshot_id"]).count() == 1_000

    # sequence semantics: re-append 50 of the deleted keys — they
    # REAPPEAR (the delete applies only to files committed before it)
    back = spark.range(50).select(
        F.col("id").alias("cell_id"), F.lit(-1).cast("long").alias("v")
    )
    cat.write(back, "t", sort_by=("cell_id",), n_files=1, mode="append")
    now = cat.read(spark, "t")
    assert now.count() == 950
    assert now.filter("cell_id < 50").count() == 50
    assert now.filter("v = -1").count() == 50
    assert now.filter("cell_id >= 50 and cell_id < 100").count() == 0

    # pruned scan applies the same deletes
    got = cat.scan(spark, "t", {"cell_id": (0, 120)})
    assert got.count() == 50 + 21  # 0..49 re-added, 100..120 original
    assert got.filter("v = -1").count() == 50

    # read_changes across a delete raises — no file-level delta exists
    with pytest.raises(ValueError, match="delete"):
        cat.read_changes(spark, "t", from_snapshot=s1["snapshot_id"])

    # compact materializes the deletes and drops the delete files
    s4 = cat.compact(spark, "t", n_files=2)
    assert not s4.get("delete_files")
    assert cat.read(spark, "t").count() == 950
    # expiry reclaims the delete dir once nothing references it
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read(spark, "t").count() == 950


def test_equality_deletes_stack_and_guard(spark, tmp_path):
    """Two stacked delete commits compose; mismatched key columns on an
    existing delete chain raise."""
    cat = SnapshotCatalog(str(tmp_path / "del_cat2"))
    df = spark.range(100).select(
        F.col("id").alias("cell_id"), (F.col("id") % 7).alias("v")
    )
    cat.write(df, "t", n_files=2)
    cat.delete_keys(spark, "t", spark.range(10).select(F.col("id").alias("cell_id")))
    cat.delete_keys(
        spark, "t",
        spark.range(10, 20).select(F.col("id").alias("cell_id")),
    )
    assert cat.read(spark, "t").count() == 80
    with pytest.raises(ValueError, match="mixed delete keys"):
        cat.delete_keys(spark, "t", spark.range(3).select(F.col("id").alias("v")))


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: reads resolve to the newest snapshot committed
    at or before the given instant; pre-field legacy snapshots sort
    oldest; a timestamp before every commit raises."""
    import time as _time

    cat = SnapshotCatalog(str(tmp_path / "asof_cat"))
    df1 = spark.range(10).select(F.col("id").alias("v"))
    s1 = cat.write(df1, "t", n_files=1)
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    cat.write(spark.range(25).select(F.col("id").alias("v")), "t", n_files=1)

    assert cat.read(spark, "t", as_of=mid).count() == 10
    assert cat.read(spark, "t", as_of=_time.time()).count() == 25
    assert cat.snapshot_as_of("t", mid)["snapshot_id"] == s1["snapshot_id"]
    with pytest.raises(KeyError, match="at or before"):
        cat.snapshot_as_of("t", s1["committed_at"] - 10)
    with pytest.raises(ValueError, match="only one of"):
        cat.read(spark, "t", snapshot_id=1, as_of=mid)


def test_equality_delete_read_plan_is_broadcast_anti_join(spark, tmp_path):
    """Merge-on-read must cost one BROADCAST anti-join per delete
    segment: the data side is never exchanged, and small key sets never
    become a shuffle join."""
    cat = SnapshotCatalog(str(tmp_path / "del_plan_cat"))
    df = spark.range(20_000).select(
        F.col("id").alias("cell_id"), (F.col("id") * 3).alias("v")
    )
    cat.write(df, "t", sort_by=("cell_id",), n_files=4)
    cat.delete_keys(
        spark, "t", spark.range(500).select(F.col("id").alias("cell_id"))
    )
    out = cat.read(spark, "t")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # exactly ONE hash exchange — the 500-row key set's distinct — and
    # it sits under the BroadcastExchange; the streamed data side goes
    # FileScan → join with no shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert out.count() == 19_500


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete"]),
            st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=8),
        ),
        min_size=1,
        max_size=5,
    ),
    seed=st.integers(min_value=0, max_value=999),
)
def test_delete_sequence_semantics_match_model(spark, tmp_path_factory, ops, seed):
    """Property: any interleaving of append/delete commits produces the
    same visible multiset as a row-level Python model applying Iceberg
    sequence rules (a delete hides only rows committed at or before
    it)."""
    cat = SnapshotCatalog(
        str(tmp_path_factory.mktemp(f"prop_del_{seed}") / "cat")
    )
    # initial table: keys 0..30, one row each, batch tag 0
    model = {(k, 0) for k in range(31)}
    df0 = spark.range(31).select(
        F.col("id").alias("k"), F.lit(0).alias("batch")
    )
    cat.write(df0, "t", n_files=2)
    batch = 0
    for op, keys in ops:
        keys = sorted(keys)
        if op == "append":
            batch += 1
            b = batch
            cat.write(
                spark.createDataFrame([(k, b) for k in keys], "k long, batch int"),
                "t", n_files=1, mode="append",
            )
            model |= {(k, b) for k in keys}
        else:
            cat.delete_keys(
                spark, "t", spark.createDataFrame([(k,) for k in keys], "k long")
            )
            model = {(k, b) for (k, b) in model if k not in keys}
    from collections import Counter

    got = Counter((r.k, r.batch) for r in cat.read(spark, "t").collect())
    assert got == Counter(model)  # multiset-exact: duplicates would fail


def test_manifest_optimistic_concurrency(spark, tmp_path):
    """Two writers building commits against the same manifest version:
    the second must get ConcurrentCommitError, never a silent lost
    update — and a clean retry (re-read) succeeds."""
    from eodal_spark.sources.catalog import ConcurrentCommitError

    cat = SnapshotCatalog(str(tmp_path / "occ_cat"))
    cat.write(spark.range(10), "t", n_files=1)

    # simulate an interleaved writer: both loads see version v, writer A
    # commits first, writer B's stale-version commit must be rejected
    man_a = cat._load_manifest("t")
    man_b = cat._load_manifest("t")
    man_a["snapshots"][-1]["meta"]["who"] = "a"
    cat._commit_manifest("t", man_a)
    man_b["snapshots"][-1]["meta"]["who"] = "b"
    with pytest.raises(ConcurrentCommitError, match="re-read and retry"):
        cat._commit_manifest("t", man_b)
    assert cat.current_snapshot("t")["meta"]["who"] == "a"
    # retry after re-read succeeds
    man_b2 = cat._load_manifest("t")
    man_b2["snapshots"][-1]["meta"]["who"] = "b"
    cat._commit_manifest("t", man_b2)
    assert cat.current_snapshot("t")["meta"]["who"] == "b"
    # versions increase monotonically
    assert cat._load_manifest("t")["version"] == 3


def test_compact_rejects_append_landing_during_rewrite(spark, tmp_path):
    """compact(n_files=) commits against its OWN manifest load: an
    append from a second catalog on the same root that lands while the
    rows are rewritten makes compact raise ConcurrentCommitError, never
    overwrite the append, and a retry compacts all 15 rows."""
    root = str(tmp_path / "compact_race")
    cat = SnapshotCatalog(root)
    other = SnapshotCatalog(root)
    cat.write(spark.range(10), "t", n_files=2)
    read_rows = cat._read_with_deletes
    calls = []

    def read_then_append(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:  # between compact's load and its commit
            other.write(spark.range(10, 15), "t", mode="append")
        return read_rows(*args, **kwargs)

    cat._read_with_deletes = read_then_append
    cat.commit_with_retry(lambda: cat.compact(spark, "t", n_files=1))
    assert len(calls) == 2  # the first attempt lost the CAS
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == list(range(15))
    assert cat.current_snapshot("t")["meta"]["compacted_from"] == 2


def test_full_compact_keeps_the_partition_spec(spark, tmp_path):
    """compact(n_files=) rewrites under the newest dir's partition spec:
    the compacted snapshot stays hive-partitioned, its files carry their
    partition values, and an equality scan reads one partition's files."""
    cat = SnapshotCatalog(str(tmp_path / "pv_compact"))
    spec = [["identity", "g"]]
    cat.write(
        spark.range(20).selectExpr("id", "id % 4 AS g"), "t", partition_by=spec
    )
    cat.compact(spark, "t", n_files=1)
    snap = cat.current_snapshot("t")
    assert snap["meta"]["compacted_from"] == 1
    assert list(snap["partition_specs"].values()) == [spec]
    files = cat._snap_files(snap)
    assert sorted(f["partition"]["_pv0"] for f in files) == ["0", "1", "2", "3"]
    got = cat.scan(spark, "t", eq={"g": 2})
    assert sorted(r.id for r in got.collect()) == [2, 6, 10, 14, 18]
    kept = got.inputFiles()
    assert kept and all("/_pv0=2/" in p for p in kept)


def test_metadata_range_delete(spark, tmp_path):
    """delete_range: O(manifest) commit — fully-covered data files are
    DROPPED from the snapshot (no data read/written), partially-covered
    files get a residual filter; sequence semantics let a later append
    into the range reappear; composes with key deletes; compact applies
    physically."""
    cat = SnapshotCatalog(str(tmp_path / "rdel_cat"))
    df = spark.range(10_000).select(
        F.col("id").alias("cell_id"), (F.col("id") * 7).alias("v")
    )
    s1 = cat.write(df, "t", sort_by=("cell_id",), n_files=10)
    n_files = len(cat._snap_files(s1))

    s2 = cat.delete_range("t", "cell_id", (0, 2999))
    assert s2["meta"]["dropped_files"] >= 2  # whole files gone from manifest
    assert len(cat._snap_files(s2)) < n_files
    assert cat.read(spark, "t").count() == 7_000
    assert cat.read(spark, "t").filter("cell_id < 3000").count() == 0
    # time travel before the purge is intact
    assert cat.read(spark, "t", snapshot_id=s1["snapshot_id"]).count() == 10_000

    # a later append INTO the purged range survives (sequence semantics)
    cat.write(
        spark.range(10).select(
            F.col("id").alias("cell_id"), F.lit(-1).cast("long").alias("v")
        ),
        "t", n_files=1, mode="append",
    )
    assert cat.read(spark, "t").filter("v = -1").count() == 10
    assert cat.read(spark, "t").count() == 7_010

    # composes with a key delete on top
    cat.delete_keys(
        spark, "t", spark.range(5_000, 5_100).select(F.col("id").alias("cell_id"))
    )
    assert cat.read(spark, "t").count() == 7_010 - 100

    # pruned scan honors both delete kinds
    got = cat.scan(spark, "t", {"cell_id": (0, 5_049)})
    assert got.count() == 10 + (5_050 - 3_000) - 50

    s5 = cat.compact(spark, "t", n_files=4)
    assert not s5.get("delete_files") and not s5.get("delete_ranges")
    assert cat.read(spark, "t").count() == 6_910


def test_range_delete_rollback_is_safe(spark, tmp_path):
    """Rolling back past a metadata range delete must not touch data
    dirs (the delete commit owns no directory)."""
    cat = SnapshotCatalog(str(tmp_path / "rdel_rb"))
    s1 = cat.write(
        spark.range(100).select(F.col("id").alias("cell_id")),
        "t", sort_by=("cell_id",), n_files=2,
    )
    cat.delete_range("t", "cell_id", (0, 49))
    assert cat.read(spark, "t").count() == 50
    cat.rollback("t", s1["snapshot_id"])
    assert cat.read(spark, "t").count() == 100


def test_range_delete_datetime_bounds_and_nulls(spark, tmp_path):
    """delete_range with datetime bounds must commit (bounds are
    coerced to the manifest value space, not raw datetimes that crash
    json.dump) and prune/filter correctly; rows with a NULL delete
    column survive; inverted ranges raise."""
    import datetime as dt

    cat = SnapshotCatalog(str(tmp_path / "rdel_ts"))
    df = spark.range(1_000).select(
        F.col("id").alias("v"),
        F.when(
            F.col("id") % 100 != 0,
            F.timestamp_seconds(F.lit(1_583_000_000) + F.col("id") * 60),
        ).alias("ts"),
    )
    cat.write(df, "t", sort_by=("ts",), n_files=4)
    lo = dt.datetime(2020, 3, 1, 0, 0, 0)
    hi = dt.datetime(2020, 3, 1, 5, 0, 0)
    cat.delete_range("t", "ts", (lo, hi))
    got = cat.read(spark, "t")
    expect = spark.createDataFrame(df.collect()).filter(
        F.col("ts").isNull()
        | (F.col("ts") < F.lit(lo)) | (F.col("ts") > F.lit(hi))
    )
    assert got.count() == expect.count()
    assert got.filter("ts IS NULL").count() == 10  # NULLs preserved
    with pytest.raises(ValueError, match="inverted"):
        cat.delete_range("t", "ts", (hi, lo))


def test_range_delete_space_separated_bounds_no_data_loss(spark, tmp_path):
    """A 'YYYY-MM-DD HH:MM:SS' string bound vs 'T'-isoformat manifest
    stats: ' ' sorts before 'T', so without normalization a file whose
    stats span [Mar1 00:00, Mar1 23:59] looks fully covered by
    (Mar1-12:00-space, Mar2-space) — delete_range would DROP it and
    silently delete the morning rows.  The fix normalizes the bound
    (scan()'s _iso_t guard) so the file is kept and only the in-range
    rows disappear via the residual filter."""
    cat = SnapshotCatalog(str(tmp_path / "rdel_sp"))
    df = spark.range(24).select(
        F.col("id").alias("h"),
        F.timestamp_seconds(
            F.lit(1_583_020_800) + F.col("id") * 3600  # 2020-03-01 hourly
        ).alias("ts"),
    )
    s1 = cat.write(df, "t", sort_by=("ts",), n_files=1)
    s2 = cat.delete_range(
        "t", "ts", ("2020-03-01 12:00:00", "2020-03-02 00:00:00")
    )
    # the single data file must NOT have been dropped from the manifest
    assert s2["meta"]["dropped_files"] == 0
    assert len(cat._snap_files(s2)) == len(cat._snap_files(s1))
    got = cat.read(spark, "t")
    assert got.count() == 12  # hours 0..11 survive
    assert got.agg(F.max("h")).first()[0] == 11


def test_full_table_range_delete_keeps_table_usable(spark, tmp_path):
    """A delete_range covering EVERY file must not brick the table: a
    snapshot with no files would have no footer to take its schema
    from.  A schema-anchor file is kept (its rows removed by the
    residual filter), so read/scan return a schema-correct empty
    relation and append/compact keep working."""
    cat = SnapshotCatalog(str(tmp_path / "rdel_full"))
    df = spark.range(1_000).select(
        F.col("id").alias("cell_id"), (F.col("id") * 3).alias("v")
    )
    cat.write(df, "t", sort_by=("cell_id",), n_files=4)
    s2 = cat.delete_range("t", "cell_id", (0, 999))
    assert cat._snap_files(s2), "schema anchor must survive a full purge"
    assert s2["row_count"] == 0
    got = cat.read(spark, "t")
    assert got.columns == ["cell_id", "v"]
    assert got.count() == 0
    assert cat.scan(spark, "t", {"cell_id": (0, 10)}).count() == 0
    # append on top of the purge: only the new rows are visible
    cat.write(
        spark.range(5).select(
            F.col("id").alias("cell_id"), F.lit(-1).cast("long").alias("v")
        ),
        "t", n_files=1, mode="append",
    )
    assert cat.read(spark, "t").count() == 5
    assert cat.read(spark, "t").filter("v = -1").count() == 5
    # compact applies the purge physically and stays readable
    cat.compact(spark, "t", n_files=1)
    assert cat.read(spark, "t").count() == 5


def test_delete_key_entries_record_bytes(spark, tmp_path):
    """Equality-delete manifest entries carry the on-disk byte size so
    the read path can gate its forced broadcast on actual key-set
    WIDTH, not row count alone (1M long-URL keys may be too big to
    broadcast safely)."""
    cat = SnapshotCatalog(str(tmp_path / "delbytes"))
    cat.write(
        spark.range(100).select(F.col("id").alias("k")), "t", n_files=1
    )
    s = cat.delete_keys(
        spark, "t", spark.range(10).select(F.col("id").alias("k"))
    )
    ent = s["delete_files"][0]
    assert ent["bytes"] > 0
    assert cat.read(spark, "t").count() == 90


_RACER_SCRIPT = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[4])
from eodal_spark.sources.catalog import ConcurrentCommitError, SnapshotCatalog

root, who, sync_dir, repo = sys.argv[1:5]
cat = SnapshotCatalog(root)

# deterministic interleave: BOTH processes build their commit against the
# same manifest version, then commit simultaneously after the barrier
man = cat._load_manifest("t")
parent = man["snapshots"][-1]
snap = dict(parent)
snap = json.loads(json.dumps(parent))
snap["snapshot_id"] = parent["snapshot_id"] + 1
snap["parent_id"] = parent["snapshot_id"]
snap["meta"] = {"who": who}
man["snapshots"].append(snap)

open(os.path.join(sync_dir, f"loaded_{who}"), "w").close()
while not os.path.exists(os.path.join(sync_dir, "go")):
    time.sleep(0.005)

lost = False
try:
    cat._commit_manifest("t", man)
except ConcurrentCommitError:
    lost = True
    # the Iceberg retry loop: re-read, rebuild, recommit
    def rebuild():
        m2 = cat._load_manifest("t")
        p2 = m2["snapshots"][-1]
        s2 = json.loads(json.dumps(p2))
        s2["snapshot_id"] = p2["snapshot_id"] + 1
        s2["parent_id"] = p2["snapshot_id"]
        s2["meta"] = {"who": who}
        m2["snapshots"].append(s2)
        cat._commit_manifest("t", m2)
    cat.commit_with_retry(rebuild)
sys.exit(7 if lost else 0)
"""


def test_concurrent_commit_two_processes(spark, tmp_path):
    """TWO OS PROCESSES race commits built against the same manifest
    version (kernel flock + version CAS are cross-process mechanisms,
    which the in-process test cannot exercise): exactly one wins the
    CAS, the loser gets ConcurrentCommitError and converges via the
    commit_with_retry rebuild — both snapshots land, none lost."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "race_cat")
    cat = SnapshotCatalog(root)
    cat.write(spark.range(10), "t", n_files=1)
    v0 = cat._load_manifest("t")["version"]

    sync = tmp_path / "sync"
    sync.mkdir()
    script = tmp_path / "racer.py"
    script.write_text(_RACER_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = {
        who: subprocess.Popen(
            [_sys.executable, str(script), root, who, str(sync), repo]
        )
        for who in ("a", "b")
    }
    deadline = __import__("time").time() + 30
    while not all(
        (sync / f"loaded_{w}").exists() for w in ("a", "b")
    ):
        assert __import__("time").time() < deadline, "children never loaded"
        __import__("time").sleep(0.01)
    (sync / "go").touch()
    codes = {w: p.wait(timeout=60) for w, p in procs.items()}

    # exactly one lost the CAS (both were built against version v0)
    assert sorted(codes.values()) == [0, 7], codes
    man = cat._load_manifest("t")
    # winner's commit + loser's retried commit: two new snapshots, two
    # version bumps, nothing lost
    assert man["version"] == v0 + 2
    whos = [s["meta"].get("who") for s in man["snapshots"][-2:]]
    assert sorted(whos) == ["a", "b"]


def test_commit_with_retry_retries_then_raises(spark, tmp_path):
    """commit_with_retry re-invokes the builder on ConcurrentCommitError
    (which re-reads the manifest) and re-raises once retries are
    exhausted."""
    from eodal_spark.sources.catalog import ConcurrentCommitError

    cat = SnapshotCatalog(str(tmp_path / "retry_cat"))
    cat.write(spark.range(100).selectExpr("id AS k"), "t", n_files=1)

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConcurrentCommitError("synthetic race")
        return cat.delete_range("t", "k", (0, 9))

    snap = cat.commit_with_retry(flaky)
    assert calls["n"] == 2 and snap["mode"] == "delete"
    assert cat.read(spark, "t").count() == 90

    def always_loses():
        raise ConcurrentCommitError("hot table")

    with pytest.raises(ConcurrentCommitError, match="hot table"):
        cat.commit_with_retry(always_loses, retries=2, backoff=0.001)


def test_upsert_merge_on_read(spark, tmp_path):
    """upsert = atomic MERGE: one commit whose equality-delete file
    carries the PARENT's sequence number — matching rows in
    pre-existing files vanish, the upsert's own rows survive, inserts
    append; later appends of the same key still reappear (sequence
    semantics unchanged)."""
    cat = SnapshotCatalog(str(tmp_path / "ups_cat"))
    s1 = cat.write(
        spark.range(1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        "t", sort_by=("k",), n_files=4,
    )
    # replace k in [0, 99] with v = -k, insert k in [1000, 1049]
    up = spark.range(150).select(
        F.when(F.col("id") < 100, F.col("id"))
        .otherwise(F.col("id") + 900)
        .alias("k")
    ).select("k", (-F.col("k")).alias("v"))
    s2 = cat.upsert(spark, up, "t", key_cols=("k",), n_files=1)
    assert s2["mode"] == "upsert"
    got = cat.read(spark, "t")
    assert got.count() == 1_000 + 50  # 100 replaced in place, 50 inserted
    # replaced rows carry the NEW values (own-file rows not self-deleted)
    assert got.filter("k < 100 AND v = -k").count() == 100
    # exactly ONE version per replaced key — the old rows are gone
    # (v = 2k alone can't test this: k=0 satisfies both -k and 2k)
    assert got.filter("k < 100").count() == 100
    assert got.filter("k < 100 AND k > 0 AND v = 2 * k").count() == 0
    assert got.filter("k >= 1000").count() == 50
    assert got.filter("k >= 100 AND k < 1000 AND v = 2 * k").count() == 900
    # time travel: pre-merge snapshot intact
    assert cat.read(spark, "t", snapshot_id=s1["snapshot_id"]).filter(
        "k < 100 AND v = 2 * k"
    ).count() == 100
    # ONE commit: exactly one new snapshot and one version bump
    assert [s["snapshot_id"] for s in cat.snapshots("t")] == [1, 2]
    # a later append of an upserted key reappears alongside it
    cat.write(
        spark.createDataFrame([(5, 555)], "k long, v long"),
        "t", n_files=1, mode="append",
    )
    assert sorted(
        r["v"] for r in cat.read(spark, "t").filter("k = 5").collect()
    ) == [-5, 555]
    # pruned scan still honors the merge
    assert cat.scan(spark, "t", {"k": (0, 49)}).filter(
        "v = -k"
    ).count() == 50
    # compact applies physically and clears delete files
    s4 = cat.compact(spark, "t", n_files=2)
    assert not s4.get("delete_files")
    assert cat.read(spark, "t").count() == 1_051


def test_upsert_empty_table_and_bad_key(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "ups_edge"))
    s = cat.upsert(
        spark,
        spark.range(10).select(F.col("id").alias("k")),
        "t",
        key_cols=("k",),
    )
    assert s["mode"] == "overwrite"  # MERGE into empty target = insert
    assert cat.read(spark, "t").count() == 10
    with pytest.raises(ValueError, match="not in the DataFrame"):
        cat.upsert(spark, spark.range(5), "t", key_cols=("nope",))
    with pytest.raises(ValueError, match="not in table"):
        cat.upsert(
            spark,
            spark.range(5).select(F.col("id").alias("zz")),
            "t",
            key_cols=("zz",),
        )


def test_upsert_rejected_by_read_changes(spark, tmp_path):
    """Replaced rows are not a file-level delta: read_changes across an
    upsert must raise, like any non-append commit."""
    cat = SnapshotCatalog(str(tmp_path / "ups_rc"))
    s1 = cat.write(spark.range(100).selectExpr("id AS k"), "t", n_files=1)
    cat.upsert(
        spark, spark.range(5).selectExpr("id AS k"), "t", key_cols=("k",)
    )
    s3 = cat.write(
        spark.range(3).selectExpr("id + 500 AS k"), "t", n_files=1,
        mode="append",
    )
    with pytest.raises(ValueError, match="upsert"):
        cat.read_changes(
            spark, "t", s1["snapshot_id"], s3["snapshot_id"]
        )


def test_snapshot_tags_retained_through_expiry(spark, tmp_path):
    """Named refs (≡ Iceberg tags): read(tag=) resolves, retagging must
    be explicit, expire_snapshots RETAINS tagged snapshots past the
    keep-last horizon (and their data dirs), rollback refuses to dangle
    a tag."""
    cat = SnapshotCatalog(str(tmp_path / "tag_cat"))
    s1 = cat.write(spark.range(10), "t", n_files=1)
    cat.tag("t", "v1-train")
    for i in range(4):
        cat.write(spark.range(20 + i), "t", n_files=1)
    assert cat.tags("t") == {"v1-train": s1["snapshot_id"]}
    assert cat.read(spark, "t", tag="v1-train").count() == 10
    with pytest.raises(ValueError, match="already points"):
        cat.tag("t", "v1-train")
    with pytest.raises(ValueError, match="only one of"):
        cat.read(spark, "t", snapshot_id=1, tag="v1-train")
    with pytest.raises(KeyError, match="no tag"):
        cat.read(spark, "t", tag="nope")

    # expiry keeps the tagged snapshot alive beyond keep_last=2
    expired = cat.expire_snapshots("t", keep_last=2)
    assert s1["snapshot_id"] not in expired
    assert cat.read(spark, "t", tag="v1-train").count() == 10
    assert cat.read(spark, "t").count() == 23  # current unaffected

    # rollback past the tag refuses; after remove_tag it proceeds and
    # a fresh expiry can then reclaim
    cat.tag("t", "tip")  # tag the current snapshot
    with pytest.raises(ValueError, match="dangle"):
        cat.rollback("t", s1["snapshot_id"])
    cat.remove_tag("t", "tip")
    cat.rollback("t", s1["snapshot_id"])
    assert cat.read(spark, "t").count() == 10
    with pytest.raises(KeyError):
        cat.remove_tag("t", "tip")


def test_remove_orphan_files(spark, tmp_path):
    """Orphan dirs (crash leftovers / rolled-back upsert delete dirs)
    are removed; every referenced dir survives and the table stays
    readable."""
    cat = SnapshotCatalog(str(tmp_path / "orph_cat"))
    cat.write(spark.range(100).selectExpr("id AS k"), "t", n_files=2)
    cat.upsert(
        spark,
        spark.range(5).selectExpr("id AS k"),
        "t",
        key_cols=("k",),
        n_files=1,
    )
    tdir = os.path.join(str(tmp_path / "orph_cat"), "t")
    # a crash leftover: data written, commit never happened
    fake = os.path.join(tdir, "v99-deadbeef")
    os.makedirs(fake)
    open(os.path.join(fake, "part-0.parquet"), "wb").close()

    # default 1-day cutoff protects a FRESH unreferenced dir — it may
    # belong to an in-flight commit whose manifest CAS hasn't landed
    assert cat.remove_orphan_files("t") == []
    assert os.path.isdir(fake)
    assert cat.remove_orphan_files(
        "t", dry_run=True, older_than_seconds=0
    ) == ["v99-deadbeef"]
    assert os.path.isdir(fake)
    assert cat.remove_orphan_files("t", older_than_seconds=0) == ["v99-deadbeef"]
    assert not os.path.isdir(fake)
    assert cat.remove_orphan_files("t", older_than_seconds=0) == []
    assert cat.read(spark, "t").count() == 100

    # rollback past the upsert orphans its delete-file dir — vacuum
    # reclaims it and the pre-upsert read is intact
    cat.rollback("t", 1)
    orphans = cat.remove_orphan_files("t", older_than_seconds=0)
    assert len(orphans) == 1  # the upsert's key dir
    assert cat.read(spark, "t").count() == 100


def test_drain_to_catalog_upsert_mode(spark, tmp_path):
    """CDC-style re-crawl drain: each micro-batch MERGES on url — the
    second batch's re-crawled urls replace their first-batch versions,
    new urls insert, exactly one version per key survives; a restart
    from the same checkpoint commits nothing new."""
    import time as _t

    from eodal_spark.sources.catalog import SnapshotCatalog
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)

    def batch(lo, hi, ver):
        return spark.range(lo, hi).selectExpr(
            "concat('https://ex.com/p/', id) AS url",
            f"{ver} AS crawl_ver",
            "id AS cell_id",
        )

    batch(0, 100, 1).coalesce(1).write.mode("append").parquet(src)
    _t.sleep(1.1)  # distinct mtimes → deterministic batch order
    batch(50, 150, 2).coalesce(1).write.mode("append").parquet(src)

    cat = SnapshotCatalog(str(tmp_path / "cdc_cat"))
    chk = str(tmp_path / "cdc_chk")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ingest.drain_to_catalog(
        stream, chk, cat, "pages", sort_by=("cell_id",), n_files=1,
        mode="upsert", key_cols=("url",),
    )
    got = cat.read(spark, "pages")
    assert got.count() == 150
    assert got.select("url").distinct().count() == 150  # one version/key
    assert got.filter("crawl_ver = 2").count() == 100
    assert got.filter("crawl_ver = 1").count() == 50
    n_snaps = len(cat.snapshots("pages"))

    # restart over the same checkpoint: nothing new lands
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ingest.drain_to_catalog(
        stream2, chk, cat, "pages", mode="upsert", key_cols=("url",),
    )
    assert len(cat.snapshots("pages")) == n_snaps
    assert cat.read(spark, "pages").count() == 150

    with pytest.raises(ValueError, match="requires key_cols"):
        ingest.drain_to_catalog(stream2, chk, cat, "pages", mode="upsert")
    with pytest.raises(ValueError, match="unknown drain mode"):
        ingest.drain_to_catalog(stream2, chk, cat, "pages", mode="merge")


def test_position_deletes_delete_where(spark, tmp_path):
    """delete_where → position-delete files (≡ Iceberg v2): arbitrary
    predicate, O(matches) commit, merge-on-read anti-join on
    (file, row ordinal); sequence semantics leave later appends alone;
    stacks with equality deletes; compact applies physically."""
    cat = SnapshotCatalog(str(tmp_path / "pdel_cat"))
    df = spark.range(1_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )
    s1 = cat.write(df, "t", sort_by=("k",), n_files=4)
    s2 = cat.delete_where(spark, "t", "k % 10 = 3")
    assert s2["mode"] == "delete" and s2["pos_delete_files"]
    got = cat.read(spark, "t")
    assert got.count() == 900
    assert got.filter("k % 10 = 3").count() == 0
    # time travel unaffected
    assert cat.read(spark, "t", snapshot_id=s1["snapshot_id"]).count() == 1_000

    # a later append INTO the predicate is untouched (positions can
    # only name files that existed at commit)
    cat.write(
        spark.createDataFrame([(3, "doc 3 again")], "k long, text string"),
        "t", n_files=1, mode="append",
    )
    assert cat.read(spark, "t").filter("k = 3").count() == 1
    assert cat.read(spark, "t").count() == 901

    # stacks with an equality delete on top
    cat.delete_keys(spark, "t", spark.range(100, 120).selectExpr("id AS k"))
    assert cat.read(spark, "t").count() == 901 - 20 + 2  # 103,113 were pos-deleted
    # Column-predicate form
    cat.delete_where(spark, "t", F.col("text").endswith("7"))
    got = cat.read(spark, "t")
    assert got.filter("text LIKE '%7'").count() == 0

    n = got.count()
    s_c = cat.compact(spark, "t", n_files=2)
    assert not s_c.get("pos_delete_files") and not s_c.get("delete_files")
    assert cat.read(spark, "t").count() == n


def test_position_deletes_pruned_scan_and_expiry(spark, tmp_path):
    """scan() honors position deletes on the surviving files; expiry
    keeps the position-delete dirs of retained snapshots."""
    cat = SnapshotCatalog(str(tmp_path / "pdel2"))
    cat.write(
        spark.range(500).selectExpr("id AS cell_id", "id * 2 AS v"),
        "t", sort_by=("cell_id",), n_files=5,
    )
    cat.delete_where(spark, "t", "cell_id BETWEEN 40 AND 59")
    got = cat.scan(spark, "t", {"cell_id": (0, 99)})
    assert got.count() == 80
    cat.write(
        spark.range(2).selectExpr("id + 1000 AS cell_id", "id AS v"),
        "t", n_files=1, mode="append",
    )
    cat.expire_snapshots("t", keep_last=2)
    assert cat.read(spark, "t").count() == 482
    assert cat.read(spark, "t").filter("cell_id BETWEEN 40 AND 59").count() == 0


def test_refresh_rollup_incremental_matches_full(spark, tmp_path):
    """Incremental rollup maintenance: after each source append,
    refresh_rollup(mode=incremental) must equal a full groupBy of the
    source; a no-op refresh commits nothing; a delete in the range
    falls back to one full recompute and stays exact."""
    from eodal_spark.operators.incremental import refresh_rollup

    cat = SnapshotCatalog(str(tmp_path / "roll_cat"))
    measures = [
        ("count", "", "n"),
        ("sum", "v", "sum_v"),
        ("min", "v", "min_v"),
        ("max", "v", "max_v"),
    ]

    def src_batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id % 7 AS k", "id * 3 AS v"
        )

    def expect():
        return {
            (r["k"],): (r["n"], r["sum_v"], r["min_v"], r["max_v"])
            for r in cat.read(spark, "src")
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
            .collect()
        }

    def got():
        return {
            (r["k"],): (r["n"], r["sum_v"], r["min_v"], r["max_v"])
            for r in cat.read(spark, "agg").collect()
        }

    cat.write(src_batch(0, 100), "src", n_files=2)
    r = refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
    assert r["mode"] == "full"
    assert got() == expect()

    # append-only updates maintain incrementally
    for lo, hi in [(100, 250), (250, 260)]:
        cat.write(src_batch(lo, hi), "src", n_files=1, mode="append")
        r = refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
        assert r["mode"] == "incremental"
        assert got() == expect()

    # already consumed → no-op, no new snapshot
    n_snaps = len(cat.snapshots("agg"))
    r = refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
    assert r["mode"] == "noop" and len(cat.snapshots("agg")) == n_snaps

    # a delete breaks the file-level delta → full rebuild, still exact
    cat.delete_where(spark, "src", "v % 9 = 0")
    r = refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
    assert r["mode"] == "full"
    assert got() == expect()


def test_refresh_rollup_survives_source_expiry(spark, tmp_path):
    """Routine expire_snapshots on the source removes the consumed
    snapshot; the refresh must fall back to one full rebuild (not
    crash with KeyError) and stay exact."""
    from eodal_spark.operators.incremental import refresh_rollup

    cat = SnapshotCatalog(str(tmp_path))
    measures = [("count", "", "n"), ("sum", "v", "sum_v")]
    cat.write(
        spark.range(0, 50).selectExpr("id % 5 AS k", "id AS v"), "src"
    )
    refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
    cat.write(
        spark.range(50, 80).selectExpr("id % 5 AS k", "id AS v"),
        "src",
        mode="append",
    )
    cat.write(
        spark.range(80, 90).selectExpr("id % 5 AS k", "id AS v"),
        "src",
        mode="append",
    )
    cat.expire_snapshots("src", keep_last=1)
    r = refresh_rollup(spark, cat, "src", "agg", ("k",), measures)
    assert r["mode"] == "full"
    got = {
        r["k"]: (r["n"], r["sum_v"])
        for r in cat.read(spark, "agg").collect()
    }
    want = {
        r["k"]: (r["n"], r["sum_v"])
        for r in cat.read(spark, "src")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want


def test_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-file Bloom sidecars prune equality scans on a
    high-cardinality unsorted key where min/max stats cannot: every
    file's [min, max] covers the probe, but the bloom proves absence."""
    from eodal_spark.sources.catalog import _bloom_sidecar

    cat = SnapshotCatalog(str(tmp_path))
    # keys interleave so every file spans ["k_00..", "k_99.."] — min/max
    # pruning alone keeps ALL files for any probe in range
    df = spark.range(0, 400).selectExpr(
        "concat('k_', lpad(CAST(id % 100 AS STRING), 2, '0'), '_', id) AS k",
        "id AS v",
    )
    cat.write(df, "t", sort_by=("v",), n_files=4, bloom_cols=("k",))
    snap = cat.current_snapshot("t")
    assert len(cat._snap_files(snap)) == 4
    dname = cat._snap_files(snap)[0]["dir"]
    assert snap["blooms"][dname]["cols"] == ["k"]
    import os
    assert os.path.isdir(
        _bloom_sidecar(os.path.join(str(tmp_path), "t", dname))
    )

    # present key → exactly its row
    out = cat.scan(spark, "t", eq={"k": "k_07_7"}).collect()
    assert [(r["k"], r["v"]) for r in out] == [("k_07_7", 7)]
    # absent key INSIDE the global min/max span → zero rows, and the
    # bloom pass provably drops every file (min/max alone keeps all 4)
    files = cat._snap_files(snap)
    # k is NOT a sort column → no min/max stats recorded for it, so the
    # min/max pass can never prune an equality probe on k: only the
    # bloom can
    assert all("k" not in f["stats"] for f in files)
    kept = cat._bloom_prune(spark, "t", snap, files, {"k": "k_50_miss"})
    assert kept == []
    assert cat.scan(spark, "t", eq={"k": "k_50_miss"}).count() == 0

    # append WITHOUT blooms: its files are never bloom-pruned (kept
    # conservatively), and lookups across generations stay correct
    cat.write(
        spark.createDataFrame([("new_key", 999)], "k string, v bigint"),
        "t",
        mode="append",
    )
    assert cat.scan(spark, "t", eq={"k": "new_key"}).count() == 1
    assert cat.scan(spark, "t", eq={"k": "k_07_7"}).count() == 1
    # integer eq values probe as their string cast
    assert cat.scan(spark, "t", eq={"v": 999}).count() == 1
    with pytest.raises(ValueError, match="eq"):
        cat.scan(spark, "t", eq={"k": None})


def test_bloom_sidecar_lifecycle(spark, tmp_path):
    """Sidecars follow their data dirs: compact re-blooms the rewritten
    files, expire removes dead sidecars, rollback removes the dropped
    commit's, and orphan vacuum never reaps a live sidecar."""
    import os

    from eodal_spark.sources.catalog import _bloom_sidecar

    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 50).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    cat.write(df, "t", n_files=2, bloom_cols=("k",))
    d1 = cat._snap_files(cat.current_snapshot("t"))[0]["dir"]
    cat.write(
        spark.range(50, 60).selectExpr("CAST(id AS STRING) AS k", "id AS v"),
        "t", mode="append", bloom_cols=("k",),
    )
    # compact inherits the bloom config and re-blooms the new layout
    cat.compact(spark, "t", n_files=1)
    snap = cat.current_snapshot("t")
    d3 = cat._snap_files(snap)[0]["dir"]
    assert snap["blooms"][d3]["cols"] == ["k"]
    assert os.path.isdir(_bloom_sidecar(os.path.join(str(tmp_path), "t", d3)))
    assert cat.scan(spark, "t", eq={"k": "55"}).count() == 1
    # orphan vacuum with age rail 0: live sidecar survives
    cat.remove_orphan_files("t", older_than_seconds=0)
    assert os.path.isdir(_bloom_sidecar(os.path.join(str(tmp_path), "t", d3)))
    # expire reclaims the old dirs AND their sidecars
    cat.expire_snapshots("t", keep_last=1)
    assert not os.path.isdir(
        _bloom_sidecar(os.path.join(str(tmp_path), "t", d1))
    )
    # rollback removes the dropped commit's sidecar
    sid = cat.current_snapshot("t")["snapshot_id"]
    cat.write(df, "t", mode="append", bloom_cols=("k",))
    d4 = os.path.basename(cat.current_snapshot("t")["path"])
    cat.rollback("t", sid)
    assert not os.path.isdir(
        _bloom_sidecar(os.path.join(str(tmp_path), "t", d4))
    )
    assert cat.scan(spark, "t", eq={"k": "55"}).count() == 1


def test_stream_stream_enrich_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join == the equivalent batch
    join once fully drained: only metadata within ±tolerance of the
    page's warc_ts enriches it, and the join condition's event-time
    bound keeps state finite."""
    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "pages")
    msrc = str(tmp_path / "meta")
    P.synth_pages(spark, 1500).write.parquet(src)
    pages = spark.read.parquet(src)
    pid = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    # offsets 0/20/40/60 min: with 30 min tolerance, ids ≡ 0,1 (mod 4)
    # match and ids ≡ 2,3 are dropped
    meta = pages.select(
        "url",
        (
            F.col("warc_ts")
            + F.make_interval(mins=(pid % 4).cast("int") * 20)
        ).alias("fetch_ts"),
        (200 + (pid % 3) * 100).cast("int").alias("http_status"),
    )
    meta.write.parquet(msrc)

    ps = spark.readStream.schema(pages.schema).parquet(src)
    ms = spark.readStream.schema(
        spark.read.parquet(msrc).schema
    ).parquet(msrc)
    out = ingest.stream_stream_enrich(
        ps, ms, tolerance="30 minutes", watermark="1 hour"
    )
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir)
    expect = (
        pages.join(
            spark.read.parquet(msrc).withColumnRenamed("url", "m_url"),
            (F.col("url") == F.col("m_url"))
            & (
                F.col("fetch_ts")
                >= F.col("warc_ts") - F.expr("INTERVAL 30 minutes")
            )
            & (
                F.col("fetch_ts")
                <= F.col("warc_ts") + F.expr("INTERVAL 30 minutes")
            ),
        )
        .select(*pages.columns, "fetch_ts", "http_status")
    )
    assert got.count() == expect.count()
    # matched ids are exactly ≡ 0,1 (mod 4); every match carries its
    # metadata columns
    ids_got = {r[0] for r in got.select(pid.alias("i")).collect()}
    assert ids_got and all(i % 4 in (0, 1) for i in ids_got)
    mism = (
        got.select("url", "fetch_ts", "http_status")
        .exceptAll(expect.select("url", "fetch_ts", "http_status"))
        .count()
    )
    assert mism == 0


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: a 2-D box predicate prunes files on BOTH
    columns, where a linear sort on x keeps every file for the y
    constraint; results stay exactly read+filter; files carry only the
    user schema (the z key is dropped before the write)."""
    cat = SnapshotCatalog(str(tmp_path))
    # x and y independent pseudo-uniform in [0, 1000)
    df = spark.range(0, 200_000).selectExpr(
        "id",
        "id % 1000 AS x",
        "CAST(pmod(id * 2654435761, 1000) AS BIGINT) AS y",
    )
    cat.write(df, "zt", zorder=("x", "y"), n_files=16)
    cat.write(df, "lin", sort_by=("x",), n_files=16)
    snap_z = cat.current_snapshot("zt")
    assert snap_z["zorder"] == ["x", "y"]
    # schema untouched
    assert cat.read(spark, "zt").columns == ["id", "x", "y"]

    box = {"x": (100, 150), "y": (300, 350)}

    def kept(table):
        snap = cat.current_snapshot(table)
        files = cat._snap_files(snap)
        n = 0
        for f in files:
            ok = True
            for c, (lo, hi) in box.items():
                st = f["stats"].get(c)
                if st is None or st["min"] is None:
                    continue
                if not (st["min"] <= hi and st["max"] >= lo):
                    ok = False
            n += ok
        return n, len(files)

    kz, nz = kept("zt")
    kl, nl = kept("lin")
    # 2-D box: both layouts prune hard (the 50/1000-per-dim box is
    # ~0.25% of the z-space).  NOT asserted: kz <= kl — at 16 files a
    # linear x-sort can keep 2 while z-order keeps 3, and
    # repartitionByRange samples its boundaries with a nondeterministic
    # seed, so the head-to-head flips run to run.  The separating claim
    # is the y-only predicate below.
    assert kz <= nz // 4, (kz, nz)
    assert kl <= nl // 4, (kl, nl)
    # the separating case: a y-ONLY predicate.  The x-sorted layout has
    # no y stats (every file spans all of y) → keeps ALL files; the
    # z-ordered layout is clustered in y too → prunes most of them.
    ybox = {"y": (300, 350)}

    def kept_box(table, bx):
        snap = cat.current_snapshot(table)
        files = cat._snap_files(snap)
        n = 0
        for f in files:
            ok = True
            for c, (lo, hi) in bx.items():
                st = f["stats"].get(c)
                if st is None or st["min"] is None:
                    continue
                if not (st["min"] <= hi and st["max"] >= lo):
                    ok = False
            n += ok
        return n, len(files)

    kzy, nzy = kept_box("zt", ybox)
    kly, nly = kept_box("lin", ybox)
    assert kly == nly  # linear layout cannot prune y at all
    assert kzy <= nzy // 2, (kzy, nzy)
    exp_y = df.filter("y BETWEEN 300 AND 350").count()
    assert cat.scan(spark, "zt", ybox).count() == exp_y
    assert cat.scan(spark, "lin", ybox).count() == exp_y
    # correctness: scan == read+filter on both layouts
    exp = (
        df.filter("x BETWEEN 100 AND 150 AND y BETWEEN 300 AND 350")
        .count()
    )
    assert cat.scan(spark, "zt", box).count() == exp
    assert cat.scan(spark, "lin", box).count() == exp
    # compact inherits the z-order layout
    cat.compact(spark, "zt", n_files=8)
    assert cat.current_snapshot("zt")["zorder"] == ["x", "y"]
    assert cat.scan(spark, "zt", box).count() == exp
    with pytest.raises(ValueError, match="one clustering layout"):
        cat.write(df, "bad", sort_by=("x",), zorder=("x", "y"))
    with pytest.raises(ValueError, match="two numeric columns"):
        cat.write(df, "bad", zorder=("x",))


def test_hidden_partitioning_transforms(spark, tmp_path):
    """Iceberg-style hidden partitioning: users query ts/host, the
    layout partitions by day(ts)/bucket(host); predicates translate to
    the transform space and prune whole partition dirs; the logical
    schema never shows the derived columns; results == read+filter."""
    import datetime as dt

    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 2000).selectExpr(
        "id",
        "timestamp'2021-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id*90) AS ts",
        "concat('host', CAST(id % 7 AS STRING)) AS host",
    )
    # 2000 * 90s = 50 hours ≈ 3 days
    cat.write(df, "t", partition_by=[["day", "ts"], ["bucket", 4, "host"]])
    snap = cat.current_snapshot("t")
    dname = cat._snap_files(snap)[0]["dir"]
    assert snap["partition_specs"][dname] == [["day", "ts"], ["bucket", 4, "host"]]
    # hidden: logical schema untouched, partition values in the manifest
    assert cat.read(spark, "t").columns == ["id", "ts", "host"]
    assert all("_pv0" in f["partition"] for f in cat._snap_files(snap))

    # day-range predicate prunes partition dirs
    day2 = (dt.datetime(2021, 3, 2), dt.datetime(2021, 3, 2, 23, 59, 59))
    files = cat._snap_files(snap)
    kept = cat._partition_prune(
        spark, snap, files, {"ts": [(day2[0].isoformat(), day2[1].isoformat())]}, {}
    )
    assert 0 < len(kept) < len(files)
    assert all(f["partition"]["_pv0"] == "2021-03-02" for f in kept)
    exp = df.filter(
        "ts BETWEEN timestamp'2021-03-02 00:00:00' AND timestamp'2021-03-02 23:59:59'"
    ).count()
    assert cat.scan(spark, "t", {"ts": day2}).count() == exp

    # bucket eq predicate prunes to one bucket per day
    kept_b = cat._partition_prune(spark, snap, files, {}, {"host": "host3"})
    assert 0 < len(kept_b) <= len(files) // 2
    assert cat.scan(spark, "t", eq={"host": "host3"}).count() == (
        df.filter("host = 'host3'").count()
    )
    # combined: day range + host eq
    got = cat.scan(spark, "t", {"ts": day2}, eq={"host": "host3"})
    assert got.count() == df.filter(
        "host = 'host3' AND ts BETWEEN timestamp'2021-03-02 00:00:00' "
        "AND timestamp'2021-03-02 23:59:59'"
    ).count()


def test_partition_evolution_per_dir_specs(spark, tmp_path):
    """Partition evolution: an append under a NEW spec keeps old dirs on
    their old spec — scan consults each file's own dir spec and both
    generations prune correctly (no rewrite of old data)."""
    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 500).selectExpr(
        "id",
        "timestamp'2021-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id*600) AS ts",
        "concat('h', CAST(id % 5 AS STRING)) AS host",
    )
    cat.write(base, "t", partition_by=[["day", "ts"]])
    more = spark.range(500, 1000).selectExpr(
        "id",
        "timestamp'2021-06-10 00:00:00' + make_interval(0,0,0,0,0,0,(id-500)*600) AS ts",
        "concat('h', CAST(id % 5 AS STRING)) AS host",
    )
    cat.write(
        more, "t", mode="append", partition_by=[["truncate", 2, "host"]]
    )
    snap = cat.current_snapshot("t")
    assert len(snap["partition_specs"]) == 2
    full = base.unionByName(more)
    # day range hits only generation 1 + conservative keep of gen 2
    day = ("2021-06-01T00:00:00", "2021-06-01T23:59:59")
    exp = full.filter(
        "ts BETWEEN timestamp'2021-06-01 00:00:00' AND "
        "timestamp'2021-06-01 23:59:59'"
    ).count()
    assert cat.scan(spark, "t", {"ts": day}).count() == exp
    # host prefix range prunes generation 2 (truncate transform)
    exp_h = full.filter("host BETWEEN 'h1' AND 'h2'").count()
    assert cat.scan(spark, "t", {"host": ("h1", "h2")}).count() == exp_h
    # identity guard: unknown transform rejected at write
    with pytest.raises(ValueError, match="unknown partition transform"):
        cat.write(base, "bad", partition_by=[["nope", "host"]])


def test_manifest_count_pushdown(spark, tmp_path):
    """count() answers from the manifest when no merge-on-read deletes
    exist (zero data I/O) and stays exact through appends, deletes
    (fallback), and predicates (pruned-scan count)."""
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 1000).selectExpr("id", "id % 10 AS g")
    cat.write(df, "t", sort_by=("id",), n_files=4)
    assert cat.count(spark, "t") == 1000
    cat.write(
        spark.range(1000, 1300).selectExpr("id", "id % 10 AS g"),
        "t", mode="append",
    )
    assert cat.count(spark, "t") == 1300
    assert cat.count(spark, "t", ranges={"id": (100, 199)}) == 100
    # equality deletes force the exact merge-on-read path
    cat.delete_keys(spark, "t", spark.createDataFrame([(5,), (6,)], "id bigint"))
    assert cat.count(spark, "t") == 1298
    # range delete: residual-filtered files make row_count unusable
    cat.compact(spark, "t", n_files=2)
    cat.delete_range("t", "id", (0, 99))
    # 1298 survivors minus ids 0..99 (5 and 6 already gone) = 1200
    assert cat.count(spark, "t") == 1200


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicated urls inside the
    watermark horizon emit exactly once; state is watermark-bounded."""
    from eodal_spark.sources import pages as P
    from eodal_spark.streaming import ingest

    src = str(tmp_path / "src")
    base = P.synth_pages(spark, 500)
    # each url appears twice, seconds apart (same horizon)
    dup = base.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 seconds")
    )
    base.unionByName(dup).write.parquet(src)
    stream = spark.readStream.schema(base.schema).parquet(src)
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        ingest.streaming_url_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 500
    assert got.select("url").distinct().count() == 500


# -- branches: write-audit-publish ------------------------------------


def test_wap_branch_stage_audit_publish(spark, tmp_path):
    """The full WAP loop: stage appends on a branch (main readers see
    nothing), audit the branch head, fast-forward publish."""
    cat = SnapshotCatalog(str(tmp_path / "wap"))
    cat.write(spark.range(10), "t")
    ref = cat.create_branch("t", "audit")
    assert ref == {"head": 1, "fork": 1}
    cat.write(spark.range(10, 15), "t", mode="append", branch="audit")
    cat.write(spark.range(15, 18), "t", mode="append", branch="audit")
    # main is untouched; the branch sees base + both staged appends
    assert cat.read(spark, "t").count() == 10
    assert cat.read(spark, "t", branch="audit").count() == 18
    assert cat.branches("t")["audit"] == {"head": 3, "fork": 1}
    published = cat.publish_branch("t", "audit")
    assert published == [2, 3]
    assert cat.read(spark, "t").count() == 18
    assert cat.branches("t") == {}
    # publish is a pure ref move: the same snapshots, now on main
    assert [s["snapshot_id"] for s in cat.snapshots("t")] == [1, 2, 3]


def test_wap_branch_drop_discards_staged_rows(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wapd"))
    cat.write(spark.range(10), "t")
    cat.create_branch("t", "audit")
    cat.write(spark.range(10, 99), "t", mode="append", branch="audit")
    dropped = cat.drop_branch("t", "audit")
    assert dropped == [2]
    assert cat.read(spark, "t").count() == 10
    with pytest.raises(KeyError, match="no branch"):
        cat.read(spark, "t", branch="audit")


def test_wap_publish_refuses_non_fast_forward_cherrypick_applies(
    spark, tmp_path
):
    """Main advances past the fork → publish refuses; cherry-picking
    the staged append composes its files onto the NEW head instead."""
    cat = SnapshotCatalog(str(tmp_path / "wapc"))
    cat.write(spark.range(10), "t")
    cat.create_branch("t", "audit")
    staged = cat.write(
        spark.range(100, 107), "t", mode="append", branch="audit"
    )
    cat.write(spark.range(10, 30), "t", mode="append")  # main moves on
    with pytest.raises(ValueError, match="non-fast-forward"):
        cat.publish_branch("t", "audit")
    picked = cat.cherrypick_snapshot("t", staged["snapshot_id"])
    assert picked["meta"]["cherrypicked_from"] == staged["snapshot_id"]
    got = cat.read(spark, "t")
    assert got.count() == 37  # 30 main rows + 7 picked
    assert got.filter("id >= 100").count() == 7
    cat.drop_branch("t", "audit")
    # the picked rows survive the branch drop (main references the dir)
    assert cat.read(spark, "t").count() == 37


def test_wap_cherrypick_guards(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wapg"))
    s1 = cat.write(spark.range(10), "t")
    with pytest.raises(ValueError, match="only append"):
        cat.cherrypick_snapshot("t", s1["snapshot_id"])
    with pytest.raises(KeyError, match="no snapshot 99"):
        cat.cherrypick_snapshot("t", 99)
    s2 = cat.write(spark.range(10, 12), "t", mode="append")
    with pytest.raises(ValueError, match="already referenced"):
        cat.cherrypick_snapshot("t", s2["snapshot_id"])


@pytest.mark.parametrize(
    "op, main_rows",
    [
        # 8 base rows; each op's effect on main
        ("delete_keys", 7),  # u0 purged
        ("upsert", 9),  # u1 replaced, u200 inserted
        ("delete_range", 6),  # cell_id 0..1 purged
        ("delete_where", 7),  # cell_id 3 purged
    ],
)
def test_main_commit_after_branch_append_gets_fresh_snapshot_id(
    spark, tmp_path, op, main_rows
):
    """Snapshot ids are one space over main AND branch snapshots: a
    main commit after a branch append must not reuse the branch
    snapshot's id, or a read by that id returns main's rows and a
    cherry-pick of the staged append finds the main commit instead."""
    cat = SnapshotCatalog(str(tmp_path / op))

    def pages(ids):
        return spark.createDataFrame(
            [(i, f"u{i}") for i in ids], "cell_id long, url string"
        )

    cat.write(pages(range(8)), "t", sort_by=("cell_id",), n_files=1)
    cat.create_branch("t", "audit")
    staged = cat.write(
        pages(range(100, 109)), "t", mode="append", branch="audit"
    )
    if op == "delete_keys":
        cat.delete_keys(spark, "t", pages([0]).select("url"))
    elif op == "upsert":
        cat.upsert(spark, pages([1, 200]), "t", key_cols=("url",))
    elif op == "delete_range":
        cat.delete_range("t", "cell_id", (0, 1))
    else:
        cat.delete_where(spark, "t", "cell_id = 3")
    assert cat.read(spark, "t").count() == main_rows
    man = cat._load_manifest("t")
    ids = [
        s["snapshot_id"]
        for s in man["snapshots"] + man["branch_snapshots"]
    ]
    assert len(ids) == len(set(ids)), ids
    sid = staged["snapshot_id"]
    assert cat.read(spark, "t", snapshot_id=sid).count() == 17
    picked = cat.cherrypick_snapshot("t", sid)
    assert picked["meta"]["cherrypicked_from"] == sid
    assert cat.read(spark, "t").count() == main_rows + 9


def test_zorder_survives_delete_compact_and_upsert(spark, tmp_path):
    """The z-order pair carries over every commit: a full compaction
    after a delete re-clusters on (x, y), and an upsert writes its new
    files z-ordered; both records keep ``zorder``."""
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id",
        "id % 100 AS x",
        "CAST(pmod(id * 2654435761, 100) AS BIGINT) AS y",
    )
    cat.write(df, "t", zorder=("x", "y"), n_files=4)
    cat.delete_keys(spark, "t", spark.range(0, 10))

    def xy_stats(files):
        return files and all(
            f["stats"].get(c, {}).get("min") is not None
            for f in files
            for c in ("x", "y")
        )

    compacted = cat.compact(spark, "t", n_files=4)
    assert compacted["zorder"] == ["x", "y"]
    files = cat._snap_files(compacted)
    assert len(files) == 4 and xy_stats(files)
    up = cat.upsert(spark, df.filter("id < 100"), "t", key_cols=("id",))
    assert up["zorder"] == ["x", "y"]
    new = [
        f for f in cat._snap_files(up)
        if f["dir"] == os.path.basename(up["path"])
    ]
    assert xy_stats(new)
    assert cat.read(spark, "t").count() == 20_000 - 10 + 10


def test_driver_hash_probe_matches_spark_for_negative_hashes(spark, tmp_path):
    """Bloom probe positions and bucket-partition values are derived
    on the driver from Spark's two xxhash64 values; they must equal
    Spark's own pmod expressions, including for values whose hashes
    are negative (where a truncating % would differ from pmod)."""
    from eodal_spark.sources import catalog as C

    cat = SnapshotCatalog(str(tmp_path))
    cands = [f"https://x.example/p/{i}" for i in range(40)] + [
        str(i) for i in range(40)
    ]
    v = F.col("v")
    hashes = {
        r.v: (r.h1, r.h2)
        for r in spark.createDataFrame([(c,) for c in cands], "v string")
        .select(
            "v",
            F.xxhash64(v).alias("h1"),
            F.xxhash64(v, F.lit(1)).alias("h2"),
        )
        .collect()
    }
    neg = [v for v in cands if hashes[v][0] < 0 and hashes[v][1] < 0]
    assert len(neg) >= 5
    for v in neg[:5]:
        assert C._xxhash64_pair(spark, v) == hashes[v]
        for bits, k in ((1 << 17, 7), (1_000_003, 5), (1 << 31, 3)):
            r1 = F.pmod(F.xxhash64(F.lit(v)), F.lit(bits))
            r2 = F.pmod(F.xxhash64(F.lit(v), F.lit(1)), F.lit(bits))
            row = spark.range(1).select(
                *[F.pmod(r1 + F.lit(i) * r2, F.lit(bits)) for i in range(k)]
            ).first()
            assert C._bloom_positions(spark, v, bits, k) == [
                (p >> 6, p & 63) for p in row
            ]
        for n in (7, 8, 1000):
            want = spark.range(1).select(
                F.pmod(F.xxhash64(F.lit(v)), F.lit(n))
            ).first()[0]
            files = [
                {
                    "dir": "d",
                    "name": f"_pv0={b}/f.parquet",
                    "partition": {"_pv0": str(b)},
                }
                for b in range(n)
            ]
            kept = cat._partition_prune(
                spark,
                {"partition_specs": {"d": [["bucket", n, "url"]]}},
                files,
                {"url": [(v, v)]},
                {"url": v},
            )
            assert [f["partition"]["_pv0"] for f in kept] == [str(want)]


def test_wap_branch_dirs_survive_expire_and_vacuum(spark, tmp_path):
    """A live branch keeps its data dirs through expire_snapshots and
    remove_orphan_files; dropping the branch releases them."""
    import os

    cat = SnapshotCatalog(str(tmp_path / "wapv"))
    cat.write(spark.range(10), "t")
    cat.create_branch("t", "audit")
    staged = cat.write(
        spark.range(10, 20), "t", mode="append", branch="audit"
    )
    staged_dir = os.path.basename(staged["path"])
    # vacuum with the age rail off: the branch dir must still be live
    assert cat.remove_orphan_files("t", older_than_seconds=0.0) == []
    for _ in range(3):
        cat.write(spark.range(5), "t")  # overwrites: old dirs die
    cat.expire_snapshots("t", keep_last=1)
    tdir = os.path.join(str(tmp_path / "wapv"), "t")
    assert staged_dir in os.listdir(tdir)  # branch kept it alive
    assert cat.read(spark, "t", branch="audit").count() == 20
    cat.drop_branch("t", "audit")
    swept = cat.remove_orphan_files("t", older_than_seconds=0.0)
    assert staged_dir in swept
    assert staged_dir not in os.listdir(tdir)


def test_wap_rollback_refuses_past_branch_fork(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "wapr"))
    cat.write(spark.range(10), "t")
    cat.write(spark.range(20), "t", mode="append")
    cat.create_branch("t", "audit")  # fork at snapshot 2
    cat.write(spark.range(30, 33), "t", mode="append", branch="audit")
    with pytest.raises(ValueError, match="branch fork"):
        cat.rollback("t", 1)
    # rollback NOT past the fork is fine and leaves the branch intact
    cat.write(spark.range(40), "t", mode="append")
    cat.rollback("t", 2)
    assert cat.read(spark, "t", branch="audit").count() == 33


def test_expire_retains_commit_less_branch_head(spark, tmp_path):
    """A branch whose head/fork is a MAIN snapshot (created, never
    written to) must pin that snapshot through expire_snapshots —
    otherwise its data dirs are rmtree'd while the ref persists and a
    later write(branch=) / read(branch=) hits a corrupted ref
    (≡ Iceberg's ref-aware expiry covering branch refs, not just
    tags)."""
    cat = SnapshotCatalog(str(tmp_path / "exp_branch"))
    cat.write(spark.range(10), "t")
    cat.create_branch("t", "audit")  # head == fork == main snapshot 1
    for i in range(3):
        cat.write(spark.range(5 + i), "t")  # main advances past the fork
    cat.expire_snapshots("t", keep_last=1)
    # the branch head snapshot (and its data) survived
    assert cat.read(spark, "t", branch="audit").count() == 10
    # and the branch is still writable
    cat.write(spark.range(10, 14), "t", mode="append", branch="audit")
    assert cat.read(spark, "t", branch="audit").count() == 14
    # dropping the branch releases the pin on the next expiry
    cat.drop_branch("t", "audit")
    cat.write(spark.range(99), "t")
    expired = cat.expire_snapshots("t", keep_last=1)
    assert 1 in expired


def _manifest_tier_bytes(root: str, table: str) -> dict[str, int]:
    """Current size of every manifest-tier file (root + segments)."""
    tdir = os.path.join(root, table)
    out = {"manifest.json": os.path.getsize(os.path.join(tdir, "manifest.json"))}
    segdir = os.path.join(tdir, "manifests")
    if os.path.isdir(segdir):
        for n in os.listdir(segdir):
            out[os.path.join("manifests", n)] = os.path.getsize(
                os.path.join(segdir, n)
            )
    return out


def _commit_manifest_bytes(root: str, table: str, fn) -> int:
    """Manifest-tier bytes WRITTEN by one commit: new/rewritten files
    plus the root rewrite (the commit's total metadata I/O)."""
    before = _manifest_tier_bytes(root, table)
    fn()
    after = _manifest_tier_bytes(root, table)
    return sum(
        sz for name, sz in after.items()
        if name not in before or before[name] != sz
    )


def test_segmented_manifest_commit_cost_flat_in_table_size(spark, tmp_path):
    """THE manifest-list property: an append's manifest-tier write cost
    is O(new files), NOT O(table files).  A 1024-file table's append
    writes ~the same metadata bytes as a 16-file table's — under the
    old single-JSON design it rewrote all 1025 entries (~64× more)."""
    root = str(tmp_path / "flat_cat")
    cat = SnapshotCatalog(root)
    cat.write(spark.range(20_000).selectExpr("id", "id*2 as v"),
              "small", sort_by=("id",), n_files=16)
    cat.write(spark.range(20_000).selectExpr("id", "id*2 as v"),
              "big", sort_by=("id",), n_files=1024)
    small_cost = _commit_manifest_bytes(
        root, "small",
        lambda: cat.write(spark.range(20_000, 20_100).selectExpr(
            "id", "id*2 as v"), "small", sort_by=("id",), n_files=1,
            mode="append"),
    )
    big_cost = _commit_manifest_bytes(
        root, "big",
        lambda: cat.write(spark.range(20_000, 20_100).selectExpr(
            "id", "id*2 as v"), "big", sort_by=("id",), n_files=1,
            mode="append"),
    )
    # 64x the table files must NOT mean 64x the commit metadata: the
    # root grows by one tiny segment ref, the segment by one entry.
    assert big_cost < 4 * small_cost, (small_cost, big_cost)
    # and both reads resolve the full history correctly
    assert cat.read(spark, "small").count() == 20_100
    assert cat.read(spark, "big").count() == 20_100
    # the append re-REFERENCED the parent's segment instead of
    # rewriting it: first ref of snapshot 2 is snapshot 1's segment
    s1, s2 = cat.snapshots("big")
    assert s2["segments"][0] == s1["segments"][0]
    assert len(s2["segments"]) == 2 and s2["segments"][1]["n_files"] == 1


def test_segmented_manifest_scan_loads_only_intersecting_segments(
    spark, tmp_path
):
    """Manifest-list pruning: scan() consults segment-ref bounds and
    loads ONLY the segments a predicate can touch — on a long append
    history a point lookup opens a handful of segment files, not the
    whole manifest tier."""
    root = str(tmp_path / "segprune_cat")
    cat = SnapshotCatalog(root)
    for i in range(8):
        cat.write(
            spark.range(i * 1000, (i + 1) * 1000).selectExpr("id", "id*2 as v"),
            "t", sort_by=("id",), n_files=2,
            mode="append" if i else "overwrite",
        )
    loads: list[str] = []
    orig = cat._load_segment

    def counting(tdir, name):
        loads.append(name)
        return orig(tdir, name)

    cat._load_segment = counting
    got = sorted(r.v for r in cat.scan(spark, "t", {"id": (2100, 2200)}).collect())
    assert got == [v * 2 for v in range(2100, 2201)]
    assert len(set(loads)) == 1, loads  # 1 of 8 segments touched
    # an all-excluding predicate prunes every segment and returns a
    # schema-correct empty relation (never a full-read fallback; the
    # schema probe may load segments — metadata plane only)
    empty = cat.scan(spark, "t", {"id": (10**9, 2 * 10**9)})
    assert empty.count() == 0 and set(empty.columns) == {"id", "v"}


def _md5_file(p: str) -> str:
    import hashlib

    return hashlib.md5(open(p, "rb").read()).hexdigest()


def test_binpack_rewrites_only_small_file_groups(spark, tmp_path):
    """Selective compaction: files at/above the target are untouched
    (byte-identical on disk, manifest segment reused), only the
    undersized group is rewritten — and rows/sort survive."""
    root = str(tmp_path / "bp_cat")
    cat = SnapshotCatalog(root)
    cat.write(
        spark.range(500_000).selectExpr("id", "id*2 as v"),
        "t", sort_by=("id",), n_files=2,
    )
    for lo in (500_000, 501_000, 502_000):
        cat.write(
            spark.range(lo, lo + 1_000).selectExpr("id", "id*2 as v"),
            "t", sort_by=("id",), n_files=2, mode="append",
        )
    before = cat.current_snapshot("t")
    bfiles = cat._snap_files(before)
    big = [f for f in bfiles if f["stats"]["id"]["max"] < 500_000]
    big_paths = {
        os.path.join(root, "t", f["dir"], f["name"]): None for f in big
    }
    for p in big_paths:
        big_paths[p] = _md5_file(p)
    s = cat.compact(spark, "t", target_file_bytes=200_000)
    assert s is not None and s["mode"] == "compact"
    assert s["meta"]["binpack_inputs"] == 6 and s["meta"]["binpack_groups"] == 1
    # untouched files byte-identical
    for p, h in big_paths.items():
        assert _md5_file(p) == h, p
    # the big files' manifest entries were re-referenced, not rewritten
    after = cat._snap_files(s)
    for f in big:
        twin = next(
            a for a in after if (a["dir"], a["name"]) == (f["dir"], f["name"])
        )
        assert twin["_seg"] == f["_seg"]
    # the 6 small files collapsed into ~1 target-sized file; rows equal
    new = [f for f in after if f["dir"] == os.path.basename(s["path"])]
    assert 1 <= len(new) <= 2
    assert sum(f["rows"] for f in new) == 3_000
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == sorted(
        list(range(500_000)) + list(range(500_000, 503_000))
    )
    # sort preserved: new files carry usable id bounds for pruning
    assert all(f["stats"]["id"]["min"] is not None for f in new)
    # nothing left to do → None, and no empty commit
    n_snaps = len(cat.snapshots("t"))
    assert cat.compact(spark, "t", target_file_bytes=200_000) is None
    assert len(cat.snapshots("t")) == n_snaps


def test_binpack_rebases_merge_on_read_deletes(spark, tmp_path):
    """Inputs are read through the snapshot's delete semantics: the
    rewritten files physically exclude deleted rows, untouched files
    keep their delete files in force, and reads are identical before
    and after."""
    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path / "bpd_cat"))
    cat.write(
        spark.range(300_000).selectExpr("id as cell_id", "id*3 as v"),
        "t", sort_by=("cell_id",), n_files=1,
    )
    for lo in (300_000, 301_000):
        cat.write(
            spark.range(lo, lo + 1_000).selectExpr(
                "id as cell_id", "id*3 as v"
            ),
            "t", sort_by=("cell_id",), n_files=2, mode="append",
        )
    # MoR delete hitting BOTH the big file and the small ones
    kill = spark.createDataFrame(
        [(5,), (300_005,), (301_005,)], "cell_id long"
    )
    cat.delete_keys(spark, "t", kill)
    want = sorted(r.cell_id for r in cat.read(spark, "t").collect())
    s = cat.compact(spark, "t", target_file_bytes=200_000)
    assert s is not None
    got = sorted(r.cell_id for r in cat.read(spark, "t").collect())
    assert got == want
    # physical re-base: 2000 input rows minus the 2 deleted small-file
    # rows landed in the rewrite
    new = [
        f for f in cat._snap_files(s)
        if f["dir"] == os.path.basename(s["path"])
    ]
    assert sum(f["rows"] for f in new) == 1_998
    # the delete files still ride along (they guard the untouched file)
    assert s["delete_files"]
    assert 5 not in got and 300_005 not in got and 301_005 not in got


def test_binpack_groups_per_partition(spark, tmp_path):
    """Partitioned tables binpack per partition VALUE: each day's small
    files merge within the day, partition values survive in the new
    manifest entries, and reads are unchanged."""
    import datetime as dt

    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path / "bpp_cat"))
    df = spark.range(4_000).select(
        F.col("id"),
        F.timestamp_seconds(
            F.lit(1_614_556_800) + (F.col("id") % 2) * 86_400
        ).alias("ts"),
    )
    for i in range(3):  # 3 appends × 2 day-partitions = small files
        cat.write(
            df.filter((F.col("id") % 3) == i), "t",
            partition_by=[["day", "ts"]],
            mode="append" if i else "overwrite",
        )
    want = sorted(r.id for r in cat.read(spark, "t").collect())
    s = cat.compact(spark, "t", target_file_bytes=512 * 1024)
    assert s is not None and s["meta"]["binpack_groups"] == 2
    got = sorted(r.id for r in cat.read(spark, "t").collect())
    assert got == want
    new = [
        f for f in cat._snap_files(s)
        if f["dir"] == os.path.basename(s["path"])
    ]
    assert new and all(f.get("partition") for f in new)
    days = {tuple(f["partition"].items()) for f in new}
    assert len(days) == 2  # one merged group per day
    # the new dir carries the spec so hidden-partition pruning works
    assert s["partition_specs"][os.path.basename(s["path"])] == [["day", "ts"]]


# -- the read path: one manifest load, one resolver, one reader -------


@pytest.mark.parametrize(
    "call",
    ["scan", "scan_ranges", "count", "count_ranges", "file_metrics",
     "read_changes"],
)
def test_branch_snapshot_id_resolves_in_every_read_call(
    spark, tmp_path, call
):
    """Snapshot ids are one space over main and branch snapshots, and
    every read call resolves a branch snapshot's id the way
    ``read(snapshot_id=)`` does."""
    cat = SnapshotCatalog(str(tmp_path / "br_ids"))
    cat.write(spark.range(5).selectExpr("id AS k"), "t", sort_by=("k",))
    cat.create_branch("t", "audit")
    sid = cat.write(
        spark.range(5, 8).selectExpr("id AS k"), "t", sort_by=("k",),
        mode="append", branch="audit",
    )["snapshot_id"]
    want = sorted(r.k for r in cat.read(spark, "t", snapshot_id=sid).collect())
    assert want == list(range(8))

    def keys(df):
        return sorted(r.k for r in df.collect())

    got, expect = {
        "scan": lambda: (keys(cat.scan(spark, "t", snapshot_id=sid)), want),
        "scan_ranges": lambda: (
            keys(cat.scan(spark, "t", {"k": (2, 6)}, snapshot_id=sid)),
            [k for k in want if 2 <= k <= 6],
        ),
        "count": lambda: (cat.count(spark, "t", snapshot_id=sid), len(want)),
        "count_ranges": lambda: (
            cat.count(spark, "t", snapshot_id=sid, ranges={"k": (2, 6)}),
            5,
        ),
        "file_metrics": lambda: (
            sum(r.rows for r in cat.file_metrics(spark, "t", sid).collect()),
            len(want),
        ),
        "read_changes": lambda: (
            keys(cat.read_changes(spark, "t", 1, sid)), want[5:]
        ),
    }[call]()
    assert got == expect


def test_read_changes_walks_the_later_snapshots_parent_chain(spark, tmp_path):
    """With branch ids resolvable, the delta is defined along the later
    snapshot's parent chain only: an overwrite on that chain raises,
    and so does a ``from_snapshot`` off it."""
    cat = SnapshotCatalog(str(tmp_path / "rc_chain"))
    cat.write(spark.range(5), "t")
    cat.create_branch("t", "audit")
    staged = cat.write(
        spark.range(5, 8), "t", mode="append", branch="audit"
    )["snapshot_id"]
    head = cat.write(spark.range(8, 9), "t", mode="append")["snapshot_id"]
    assert [r.id for r in cat.read_changes(spark, "t", 1, head).collect()] == [8]
    with pytest.raises(ValueError, match="not an ancestor"):
        cat.read_changes(spark, "t", staged, head)
    redo = cat.write(
        spark.range(3), "t", mode="overwrite", branch="audit"
    )["snapshot_id"]
    with pytest.raises(ValueError, match="overwrite commit"):
        cat.read_changes(spark, "t", 1, redo)


def test_result_schema_is_the_snapshots_whichever_files_are_read(
    spark, tmp_path
):
    """An append may add a column; every read of that snapshot carries
    it, whichever files pruning keeps (scan ≡ read + filter) and
    whichever files a change set holds."""
    cat = SnapshotCatalog(str(tmp_path / "schema_cat"))
    cat.write(
        spark.range(5).selectExpr("id AS k", "'a' AS url"), "t",
        sort_by=("k",),
    )
    cat.write(
        spark.range(100, 105).selectExpr(
            "id AS k", "'b' AS url", "1 AS extra"
        ),
        "t", sort_by=("k",), mode="append",
    )
    cat.write(
        spark.range(200, 203).selectExpr("id AS k", "'c' AS url"), "t",
        sort_by=("k",), mode="append",
    )
    full = cat.read(spark, "t")
    assert full.columns == ["k", "url", "extra"]
    for lo, hi in [(0, 4), (100, 104), (200, 202), (1000, 1004)]:
        got = cat.scan(spark, "t", {"k": (lo, hi)})
        assert got.columns == full.columns, (lo, hi)
        assert sorted(got.collect()) == sorted(
            full.filter(f"k BETWEEN {lo} AND {hi}").collect()
        )
    for lo, hi in [(2, 3), (3, 3)]:  # the delta is the old-schema dir / empty
        delta = cat.read_changes(spark, "t", lo, hi)
        assert delta.columns == full.columns, (lo, hi)
    delta = cat.read_changes(spark, "t", 2, 3)
    assert sorted(r.k for r in delta.collect()) == [200, 201, 202]


def test_read_calls_load_the_manifest_once(spark, tmp_path, monkeypatch):
    """Each read call resolves its snapshot and files from
    ONE manifest load; a full compaction resolves its source, marker
    walk, rows and commit parent from one more (the commit's version
    check is the other)."""
    cat = SnapshotCatalog(str(tmp_path / "loads_cat"))
    df = spark.range(40).selectExpr("id AS k", "CAST(id AS STRING) AS url")
    cat.write(df, "t", sort_by=("k",), n_files=2, bloom_cols=("url",))
    cat.write(
        spark.range(40, 50).selectExpr("id AS k", "CAST(id AS STRING) AS url"),
        "t", sort_by=("k",), mode="append",
    )
    cat.delete_keys(spark, "t", spark.createDataFrame([("3",)], "url string"))
    loads: list[str] = []
    orig = cat._load_manifest
    monkeypatch.setattr(
        cat, "_load_manifest", lambda t: loads.append(t) or orig(t)
    )
    calls = {
        "read": lambda: cat.read(spark, "t"),
        "scan_ranges": lambda: cat.scan(spark, "t", {"k": (0, 9)}),
        "scan_eq": lambda: cat.scan(spark, "t", eq={"url": "7"}),
        "scan": lambda: cat.scan(spark, "t"),
        "count_fast": lambda: cat.count(spark, "t", snapshot_id=2),
        "count_deletes": lambda: cat.count(spark, "t"),
        "count_ranges": lambda: cat.count(spark, "t", ranges={"k": (0, 9)}),
        "read_changes": lambda: cat.read_changes(spark, "t", 1, 2),
        "file_metrics": lambda: cat.file_metrics(spark, "t"),
        "compact": lambda: cat.compact(spark, "t", n_files=1),
    }
    got = {}
    for name, fn in calls.items():
        loads.clear()
        fn()
        got[name] = len(loads)
    want = {name: 1 for name in calls}
    want["compact"] = 2
    assert got == want

