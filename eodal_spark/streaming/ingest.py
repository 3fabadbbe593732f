"""Streaming ingest: incremental pages → tiled, deduped table.

The reference appends scenes to a sorted collection one at a time
(`eodal/core/scene.py:381-413`) with a ±60-minute metadata-matching
tolerance (`eodal/mapper/mapper.py:655-663`).  Structured Streaming
re-expresses that as:

* watermark on ``warc_ts`` (late-data bound ≡ matching tolerance),
* tumbling-window aggregation (≡ timestamp rounding, mapper.py:554-563),
* ``foreachBatch`` append into the snapshot catalog (≡ incremental
  scene insert + pickle checkpoint, with real checkpointLocation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodal_spark.sources import pages as P


def _gated_geo(pages_stream: DataFrame, res: int) -> DataFrame:
    """The SAME gated geocode as the batch path (`P.geocode`), shared by
    every streaming operator: unparseable pages get the non-joining
    cell_id -1 sentinel and are EXCLUDED from per-cell streams — the
    batch pipeline drops them at the polygon/covering join; streaming
    per-cell aggregates have no such join, so without the filter every
    garbage page would pile onto one hot corner-cell key."""
    return P.geocode(pages_stream, res).filter(F.col("cell_id") != -1)


def windowed_cell_counts(
    pages_stream: DataFrame,
    res: int,
    window: str = "10 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-cell page counts — the streaming
    analogue of tile histograms. Late rows beyond the watermark are
    dropped (≡ the reference's tolerance cut, mapper.py:655-663)."""
    geo = _gated_geo(pages_stream, res).select("url", "warc_ts", "cell_id")
    return (
        geo.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"), F.min("url").alias("first_url"))
    )


def session_windowed_counts(
    pages_stream: DataFrame,
    res: int,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Session-window grouping per cell — ≡ the reference's session-like
    grouping of tiles into one scene per (rounded) timestamp
    (`eodal/mapper/mapper.py:572-616`): bursts of pages for a cell
    within ``gap`` of each other collapse into one session row."""
    geo = _gated_geo(pages_stream, res).select("url", "warc_ts", "cell_id")
    return (
        geo.withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("sess"), F.col("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def stateful_cell_counter(pages_stream: DataFrame, res: int) -> DataFrame:
    """Custom stateful operator: running per-cell page count across
    micro-batches via ``applyInPandasWithState`` (the extension point
    SURVEY §2.9 reserves for incremental per-cell aggregates).  State is
    one long per cell; each batch emits the updated running total."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    geo = _gated_geo(pages_stream, res).select("url", "cell_id")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"cell_id": [key[0]], "running_count": [total]})

    return geo.groupBy("cell_id").applyInPandasWithState(
        update,
        outputStructType="cell_id long, running_count long",
        stateStructType="count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_mosaic_dedup(
    pages_stream: DataFrame, res: int, bucket_seconds: int = 86_400 * 30
) -> DataFrame:
    """Streaming first-wins mosaic: the stateful twin of
    `tiling.mosaic_dedup` — per (cell, time-bucket) keep the min
    (ts_us, url) row EVER seen, carried across micro-batches in
    `applyInPandasWithState` state.  Emits a row only when the winner
    for a key changes (update mode), so a re-delivered or late page
    that loses the total-order tie-break produces no output — the same
    deterministic survivor the batch operator picks.

    State per key is two scalars (ts_us, url) — at 10^12 pages the
    state store scales with |distinct (cell, bucket)| (the mosaic's
    output cardinality), not the input rate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # gated geocode via _gated_geo (sentinel rows excluded); the order
    # key is full-precision microseconds — the batch operator orders by
    # full warc_ts, so second-truncation would pick a different survivor
    # for sub-second ties
    geo = _gated_geo(pages_stream, res).select("url", "warc_ts", "cell_id")
    geo = geo.withColumn(
        "ts_us", F.unix_micros(F.col("warc_ts").cast("timestamp"))
    ).withColumn(
        "ts_bucket",
        # floor (not truncating div): pre-epoch timestamps must bucket
        # exactly like the batch twin (tiling.assign_tiles)
        F.floor(
            F.col("ts_us") / F.lit(bucket_seconds * 1_000_000)
        ).cast("long"),
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            for ts, url in zip(pdf["ts_us"], pdf["url"]):
                cand = (int(ts), str(url))
                if best is None or cand < best:
                    best = cand
        changed = not state.exists or tuple(state.get) != best
        state.update(best)
        if changed:
            yield pd.DataFrame(
                {
                    "cell_id": [key[0]],
                    "ts_bucket": [key[1]],
                    "ts_us": [best[0]],
                    "url": [best[1]],
                }
            )

    return geo.groupBy("cell_id", "ts_bucket").applyInPandasWithState(
        update,
        outputStructType="cell_id long, ts_bucket long, ts_us long, url string",
        stateStructType="ts_us long, url string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    output_mode: str = "append",
):
    """Drain everything currently available into parquet, checkpointed —
    resumable via checkpointLocation.

    File sinks are append-only, so update-mode streams (the stateful
    operators `streaming_mosaic_dedup` / `stateful_cell_counter`) are
    drained via ``foreachBatch`` — pass ``output_mode="update"`` for
    them; a direct parquet sink would be rejected by Spark at
    ``start()``.  The foreachBatch path is EXACTLY-ONCE, not
    at-least-once: each micro-batch lands in its own ``batch_id=N``
    partition directory, written with overwrite and skipped when its
    ``_SUCCESS`` marker already exists — a crash between the parquet
    write and the checkpoint commit replays the batch into the same
    directory instead of duplicating rows.  Readers see ``batch_id``
    as a partition column (per-batch lineage, per the north rule).

    Each batch directory also records WHICH checkpoint wrote it
    (``_CHECKPOINT``): batch ids restart at 0 when a checkpoint is
    deleted or a second stream targets the same ``out_dir``, and the
    bare _SUCCESS test would then silently swallow the new batches —
    a mismatch raises instead of dropping data."""
    w = (
        stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if output_mode == "append":
        q = w.format("parquet").option("path", out_dir).outputMode("append").start()
    else:
        import os

        ckpt_id = os.path.abspath(checkpoint_dir)

        def _write_batch(bdf, batch_id: int):
            spark = bdf.sparkSession
            dest = f"{out_dir}/batch_id={batch_id}"
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(f"{dest}/_SUCCESS")
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            # the marker goes through the SAME FileSystem handle as the
            # _SUCCESS probe — out_dir may be HDFS/S3, where local
            # open()/os.path would silently miss it and disable the
            # foreign-checkpoint guard
            jmarker = jvm.org.apache.hadoop.fs.Path(f"{dest}/_CHECKPOINT")
            if fs.exists(jpath):
                prev = None
                if fs.exists(jmarker):
                    stream = fs.open(jmarker)
                    try:
                        prev = jvm.org.apache.commons.io.IOUtils.toString(
                            stream, "UTF-8"
                        )
                    finally:
                        stream.close()
                if prev == ckpt_id:
                    return  # replayed batch (crash before checkpoint commit)
                if prev is not None:
                    raise ValueError(
                        f"{dest} was written by a different checkpoint "
                        f"({prev!r}); refusing to silently skip this "
                        f"run's batch — use a fresh out_dir or the "
                        f"original checkpoint"
                    )
                # no marker: crashed between parquet write and marker
                # write (or a pre-marker-format dir) — the overwrite
                # below is idempotent either way
            bdf.write.mode("overwrite").parquet(dest)
            out = fs.create(jmarker, True)
            try:
                out.write(bytearray(ckpt_id.encode("utf-8")))
            finally:
                out.close()

        q = w.outputMode(output_mode).foreachBatch(_write_batch).start()
    q.awaitTermination()
    return q


def drain_to_catalog(
    stream_df: DataFrame,
    checkpoint_dir: str,
    catalog,
    table: str,
    sort_by: tuple[str, ...] = (),
    n_files: int | None = None,
    mode: str = "append",
    key_cols: tuple[str, ...] = (),
):
    """Drain a stream into APPEND SNAPSHOTS of a `SnapshotCatalog`
    table — the full incremental-ingestion contract in one call:
    archives/events land, each micro-batch becomes one append commit
    (cost O(batch), parent files re-referenced), and the result is a
    time-travelable, manifest-pruned, `read_changes`-consumable table.

    Exactly-once across restarts: each commit records its
    ``(checkpoint, batch_id)`` in the snapshot meta; a replayed batch
    (crash between commit and checkpoint write) finds its marker and is
    skipped, so no micro-batch ever lands twice.  A DIFFERENT
    checkpoint re-emitting an already-committed batch id (deleted /
    recreated checkpoint over the same landing dir) RAISES instead of
    silently double-appending every row — same guard as
    `run_available_now`'s update path.  Only the newest batch can ever
    replay; ``expire_snapshots(keep_last>=1)`` always retains the
    newest snapshot, and :meth:`SnapshotCatalog.compact` carries the
    ingest marker forward, so routine maintenance (compact then
    expire) preserves the last batch's exactly-once evidence.  Expiry
    CAN remove OLDER markers this foreign-checkpoint guard reads, so
    point fresh checkpoints at fresh tables.  ≡ the reference's
    incremental scene insert + pickle checkpoint
    (`eodal/core/scene.py:381-413`, mapper temp-file resume) with real
    table semantics.

    ``mode="upsert"`` (with ``key_cols``) drains a CDC-style stream —
    each micro-batch MERGES instead of appending: re-crawled keys
    replace their previous version, new keys insert, all in one atomic
    commit per batch (:meth:`SnapshotCatalog.upsert`).  Batches are
    merged verbatim — if one micro-batch can carry several versions of
    a key, dedupe it upstream (e.g. ``dropDuplicates(key_cols)`` after
    a max-ts window).  ``read_changes`` across upsert commits raises
    (replaced rows are not a file-level delta); consume the table by
    snapshot reads instead.  Exactly-once markers work identically in
    both modes."""
    import os

    if mode not in ("append", "upsert"):
        raise ValueError(f"unknown drain mode {mode!r}")
    if mode == "upsert" and not key_cols:
        raise ValueError("mode='upsert' requires key_cols")
    ckpt_id = os.path.abspath(checkpoint_dir)

    def _commit(bdf, batch_id: int):
        for s in catalog.snapshots(table):
            m = s.get("meta", {})
            if m.get("batch_id") == batch_id and "checkpoint" in m:
                if m["checkpoint"] == ckpt_id:
                    return  # replayed batch — already committed
                raise ValueError(
                    f"table {table!r} already holds batch {batch_id} "
                    f"from a different checkpoint ({m['checkpoint']!r}); "
                    "refusing to double-append — use the original "
                    "checkpoint or a fresh table"
                )
        meta = {"checkpoint": ckpt_id, "batch_id": batch_id}
        # the commit reads the batch more than once (the range-bound
        # sample of a sorted write, then the write itself); persisted,
        # the source read and every Python stage upstream (WARC parse,
        # geocode) run once per batch instead of once per read
        bdf = bdf.persist()
        try:
            if mode == "upsert":
                if not catalog.snapshots(table):
                    # seed batch: plain sorted write, so the table
                    # carries sort_by and later upserts inherit the
                    # layout
                    catalog.write(
                        bdf, table, sort_by=sort_by, n_files=n_files,
                        mode="overwrite", meta=meta,
                    )
                else:
                    catalog.upsert(
                        bdf.sparkSession, bdf, table, key_cols=key_cols,
                        n_files=n_files, meta=meta,
                    )
            else:
                catalog.write(
                    bdf, table, sort_by=sort_by, n_files=n_files,
                    mode="append", meta=meta,
                )
        finally:
            bdf.unpersist()

    q = (
        stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(_commit)
        .start()
    )
    q.awaitTermination()
    return q


def stream_stream_enrich(
    pages_stream: DataFrame,
    meta_stream: DataFrame,
    tolerance: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: enrich the live pages
    stream with a crawl-metadata stream (CDX/fetch-log shape) on url,
    accepting a metadata record whose ``fetch_ts`` lies within
    ±``tolerance`` of the page's ``warc_ts`` — the streaming form of
    the reference's ±60-minute metadata-matching tolerance
    (`eodal/mapper/mapper.py:655-663`), which the as-of operator
    (`operators/asof.py`) expresses for batch.

    Both inputs carry event-time watermarks AND the join condition
    bounds the event-time distance, so Spark's state store evicts a
    buffered row as soon as the other side's watermark passes its
    event time + tolerance — state is O(rows within the watermark
    horizon), never unbounded (the documented requirement for
    stream-stream inner joins; without the time-range condition Spark
    would buffer both streams forever).  State is hash-partitioned by
    the join key (url), so a 1000-executor cluster shards it; inner
    matches emit as soon as both sides arrive — no watermark delay on
    the output path."""
    meta_cols = [c for c in meta_stream.columns if c != "url"]
    a = pages_stream.withWatermark("warc_ts", watermark)
    b = meta_stream.withColumnRenamed("url", "m_url").withWatermark(
        "fetch_ts", watermark
    )
    iv = F.expr(f"INTERVAL {tolerance}")
    joined = a.join(
        b,
        (F.col("url") == F.col("m_url"))
        & (F.col("fetch_ts") >= F.col("warc_ts") - iv)
        & (F.col("fetch_ts") <= F.col("warc_ts") + iv),
    )
    return joined.select(*pages_stream.columns, *meta_cols)


def streaming_url_dedup(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exactly-once url dedup via
    ``dropDuplicatesWithinWatermark``: re-crawled/duplicate pages
    arriving within the watermark horizon of each other emit ONCE —
    the streaming twin of the batch first-wins mosaic dedup, with the
    state store bounded by the watermark (a plain dropDuplicates on a
    stream would keep every url key forever; the within-watermark
    variant evicts keys once the horizon passes — the only state
    contract that survives an unbounded crawl)."""
    return pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])
