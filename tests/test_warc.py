"""WARC source/sink: byte-exact round-trip, CC gzip layout, provenance."""

import glob
import gzip
import os

import pytest
from pyspark.sql import functions as F

from eodal_spark.sources import pages as P
from eodal_spark.sources import warc as W


@pytest.fixture(scope="module")
def small_pages(spark):
    return P.synth_pages(spark, 500, partitions=4)


def _roundtrip(spark, small_pages, tmp_path, gzip_records):
    out = str(tmp_path / ("gz" if gzip_records else "plain"))
    manifest = W.write_warc(
        small_pages, out, gzip_records=gzip_records
    ).collect()
    assert sum(m.n_records for m in manifest) == 500
    assert len(manifest) == 4  # one file per partition
    for m in manifest:
        assert os.path.exists(m.path) and os.path.getsize(m.path) == m.n_bytes

    back = W.read_warc(spark, out)
    # byte fidelity: md5(html) multiset identical, urls identical
    a = {
        (r.url, r.ts, r.h)
        for r in small_pages.select(
            "url",
            F.unix_timestamp("warc_ts").alias("ts"),
            F.md5("html").alias("h"),
        ).collect()
    }
    b = {
        (r.url, r.ts, r.h)
        for r in back.select(
            "url",
            F.unix_timestamp("warc_ts").alias("ts"),
            F.md5("html").alias("h"),
        ).collect()
    }
    assert a == b


def test_roundtrip_plain(spark, small_pages, tmp_path):
    _roundtrip(spark, small_pages, tmp_path, gzip_records=False)


def test_roundtrip_gzip_members(spark, small_pages, tmp_path):
    _roundtrip(spark, small_pages, tmp_path, gzip_records=True)


def test_gzip_layout_is_member_per_record(spark, small_pages, tmp_path):
    """CC layout contract: every record its own gzip member, so a reader
    can split at member boundaries."""
    out = str(tmp_path / "members")
    m = W.write_warc(small_pages, out, gzip_records=True).collect()
    path = sorted(x.path for x in m)[0]
    data = open(path, "rb").read()
    members = list(W._split_gzip_members(data))
    # warcinfo + n_records members
    n = [x.n_records for x in m if x.path == path][0]
    assert len(members) == n + 1
    assert members[0][0] == 0
    # each member decompresses independently to exactly one whole record
    for off, chunk in members:
        assert chunk.startswith(b"WARC/1.0")
        assert chunk.endswith(b"\r\n\r\n")
        assert gzip.decompress(data[off:]).startswith(chunk)


def test_non_response_records_skipped(spark, small_pages, tmp_path):
    out = str(tmp_path / "skip")
    W.write_warc(small_pages, out, gzip_records=False).collect()
    # every file begins with a warcinfo record that must not surface
    back = W.read_warc(spark, out)
    assert back.count() == 500
    assert back.filter(F.col("url").isNull()).count() == 0


def test_provenance_columns(spark, small_pages, tmp_path):
    out = str(tmp_path / "prov")
    W.write_warc(small_pages, out, gzip_records=True).collect()
    back = W.read_warc(spark, out)
    rows = back.select("warc_file", "record_offset").collect()
    assert {os.path.basename(r.warc_file) for r in rows} == {
        os.path.basename(p) for p in glob.glob(out + "/*.warc.gz")
    }
    # offsets are the gzip member starts: strictly increasing per file,
    # first response record after the warcinfo member (offset > 0)
    per_file = {}
    for r in rows:
        per_file.setdefault(r.warc_file, []).append(r.record_offset)
    for offs in per_file.values():
        assert all(o > 0 for o in offs)
        s = sorted(offs)
        assert len(set(s)) == len(s)


def test_deterministic_bytes(spark, small_pages, tmp_path):
    """Same input partitioning → identical file bytes (mtime=0 members,
    content-derived record ids)."""
    src = small_pages.repartitionByRange(2, "url").sortWithinPartitions("url")
    out1, out2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    W.write_warc(src, out1).collect()
    W.write_warc(src, out2).collect()
    f1 = sorted(glob.glob(out1 + "/*"))
    f2 = sorted(glob.glob(out2 + "/*"))
    assert [os.path.basename(p) for p in f1] == [
        os.path.basename(p) for p in f2
    ]
    for a, b in zip(f1, f2):
        assert open(a, "rb").read() == open(b, "rb").read()


def test_truncated_archive_raises(spark, small_pages, tmp_path):
    out = str(tmp_path / "trunc")
    m = W.write_warc(small_pages, out, gzip_records=False).collect()
    path = m[0].path
    data = open(path, "rb").read()
    with pytest.raises(ValueError, match="bad WARC version|truncated|trailer"):
        W.parse_warc_bytes(path, data[: len(data) // 2])


def test_pages_from_warc_matches_generator(spark, small_pages, tmp_path):
    out = str(tmp_path / "canon")
    W.write_warc(small_pages, out).collect()
    got = W.pages_from_warc(spark, out)
    exp = {
        (r.url, r.text, r.lang)
        for r in small_pages.select("url", "text", "lang").collect()
    }
    assert {
        (r.url, r.text, r.lang)
        for r in got.select("url", "text", "lang").collect()
    } == exp


def test_read_is_single_arrow_stage(spark, small_pages, tmp_path):
    out = str(tmp_path / "plan")
    W.write_warc(small_pages, out).collect()
    plan = W.read_warc(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # no per-row Python


def test_stream_warc_incremental_exactly_once(spark, tmp_path):
    """Archives landing in a directory are ingested incrementally:
    drain 1 sees batch-A files, drain 2 (same checkpoint) appends only
    the NEW batch-B files, and the final table equals the batch
    read_warc of the whole directory — file-level exactly-once."""
    from eodal_spark.streaming.ingest import run_available_now

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "pages_out")

    a = P.synth_pages(spark, 200, partitions=2)
    W.write_warc(a, land).collect()
    run_available_now(W.stream_warc(spark, land), ckpt, out)
    got1 = spark.read.parquet(out)
    assert got1.count() == 200

    b = P.synth_pages(spark, 300, partitions=2).filter(
        ~F.col("url").isin([r.url for r in a.select("url").collect()])
    )
    n_b = b.count()
    # new archives land in the SAME directory under a batch prefix
    W.write_warc(b, land, prefix="b2-").collect()
    run_available_now(W.stream_warc(spark, land), ckpt, out)

    final = spark.read.parquet(out)
    assert final.count() == 200 + n_b
    batch_urls = {r.url for r in W.read_warc(spark, land).select("url").collect()}
    assert {r.url for r in final.select("url").collect()} == batch_urls
    # re-drain with nothing new: no duplicates (checkpointed file log)
    run_available_now(W.stream_warc(spark, land), ckpt, out)
    assert spark.read.parquet(out).count() == 200 + n_b


def test_stream_warc_to_catalog_append_snapshots(spark, tmp_path):
    """End-to-end incremental ingestion: WARC archives land → each
    micro-batch becomes ONE append snapshot (exactly-once across
    re-drains) → the table is time-travelable and read_changes yields
    exactly the newly-landed pages."""
    from eodal_spark.sources.catalog import SnapshotCatalog
    from eodal_spark.streaming.ingest import drain_to_catalog

    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    cat = SnapshotCatalog(str(tmp_path / "cat"))

    a = P.synth_pages(spark, 200, partitions=2)
    W.write_warc(a, land).collect()
    drain_to_catalog(
        W.stream_warc(spark, land).select("url", "warc_ts", "html"),
        ckpt, cat, "pages", n_files=2,
    )
    n_snaps = len(cat.snapshots("pages"))
    assert cat.read(spark, "pages").count() == 200

    # idempotent re-drain: no new snapshots, no duplicate rows
    drain_to_catalog(
        W.stream_warc(spark, land).select("url", "warc_ts", "html"),
        ckpt, cat, "pages", n_files=2,
    )
    assert len(cat.snapshots("pages")) == n_snaps
    assert cat.read(spark, "pages").count() == 200

    # second landing appends; read_changes sees exactly the new urls
    b = P.synth_pages(spark, 350, partitions=2).filter(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") >= 200
    )
    W.write_warc(b, land, prefix="b2-").collect()
    drain_to_catalog(
        W.stream_warc(spark, land).select("url", "warc_ts", "html"),
        ckpt, cat, "pages", n_files=2,
    )
    assert cat.read(spark, "pages").count() == 350
    delta = cat.read_changes(spark, "pages", from_snapshot=n_snaps)
    urls = {r.url for r in delta.select("url").collect()}
    assert urls == {r.url for r in b.select("url").collect()}
    # time travel to the first landing still works
    assert cat.read(spark, "pages", snapshot_id=n_snaps).count() == 200


def test_drain_to_catalog_parses_each_batch_once(spark, tmp_path):
    """A cell-sorted drain runs the stream's Python stages once per
    row: a counting stage between `stream_warc` and the drain logs one
    line per row it sees, and the log matches the rows landed (the
    sorted write's range-bound sample must not re-run the parse)."""
    from eodal_spark.sources.catalog import SnapshotCatalog
    from eodal_spark.streaming.ingest import drain_to_catalog

    land = str(tmp_path / "landing")
    seen = str(tmp_path / "seen.log")
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    W.write_warc(P.synth_pages(spark, 150, partitions=2), land).collect()

    def log_rows(batches):
        for pdf in batches:
            with open(seen, "a") as f:
                f.write("row\n" * len(pdf))
            yield pdf

    src = P.geocode(W.stream_warc(spark, land), 8).select(
        "url", "warc_ts", "cell_id", "lat_centi", "lon_centi"
    )
    drain_to_catalog(
        src.mapInPandas(log_rows, src.schema), str(tmp_path / "ckpt"), cat,
        "pages", sort_by=("cell_id",), n_files=2,
    )
    landed = cat.read(spark, "pages").count()
    assert landed == 150
    with open(seen) as f:
        assert len(f.read().splitlines()) == landed


def test_drain_to_catalog_foreign_checkpoint_raises(spark, tmp_path):
    import pytest

    from eodal_spark.sources.catalog import SnapshotCatalog
    from eodal_spark.streaming.ingest import drain_to_catalog

    land = str(tmp_path / "landing")
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    W.write_warc(P.synth_pages(spark, 100, partitions=1), land).collect()
    src = lambda: W.stream_warc(spark, land).select("url", "warc_ts", "html")  # noqa: E731
    drain_to_catalog(src(), str(tmp_path / "ck1"), cat, "pages", n_files=1)
    assert cat.read(spark, "pages").count() == 100
    with pytest.raises(Exception, match="different checkpoint"):
        drain_to_catalog(src(), str(tmp_path / "ck2"), cat, "pages", n_files=1)
    # no silent double-append happened
    assert cat.read(spark, "pages").count() == 100


def test_subsecond_timestamps_roundtrip_exact(spark, tmp_path):
    """WARC-Date carries fractional seconds (WARC 1.1) when warc_ts has
    microseconds, so read(write(df)) is VALUE-exact on warc_ts — not
    just whole-second-exact."""
    import datetime as dt

    rows = [
        ("https://a.example/x", dt.datetime(2020, 3, 1, 12, 0, 0, 123456), b"<p>a</p>"),
        ("https://b.example/y", dt.datetime(2020, 3, 1, 12, 0, 1), b"<p>b</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "subsec")
    W.write_warc(df.coalesce(1), out).collect()
    back = W.read_warc(spark, out)
    got = {
        (r.url, r.us)
        for r in back.select(
            "url", F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("us")
        ).collect()
    }
    want = {
        (r.url, r.us)
        for r in df.select(
            "url", F.unix_micros(F.col("warc_ts").cast("timestamp")).alias("us")
        ).collect()
    }
    assert got == want


def test_stream_warc_geocode_to_catalog_pipeline(spark, tmp_path):
    """The full crawl-ingest pipeline composed end-to-end:
    ``stream_warc → geocode → append snapshots → read_changes`` — the
    north-rule ingestion path (archives land, pages are cell-assigned
    in-stream, each micro-batch is one exactly-once append commit, and
    downstream consumers read file-level deltas)."""
    from eodal_spark.sources.catalog import SnapshotCatalog
    from eodal_spark.streaming.ingest import drain_to_catalog

    res = 8
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cols = ["url", "warc_ts", "cell_id", "lat_centi", "lon_centi"]

    a = P.synth_pages(spark, 300, partitions=2)
    W.write_warc(a, land).collect()
    drain_to_catalog(
        P.geocode(W.stream_warc(spark, land), res).select(*cols),
        ckpt, cat, "pages_geo", sort_by=("cell_id",), n_files=2,
    )
    n_snaps = len(cat.snapshots("pages_geo"))
    got = cat.read(spark, "pages_geo")
    # in-stream geocode ≡ batch geocode, row for row
    want = P.geocode(W.read_warc(spark, land), res).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # idempotent re-drain: no new snapshots, no duplicate rows
    drain_to_catalog(
        P.geocode(W.stream_warc(spark, land), res).select(*cols),
        ckpt, cat, "pages_geo", sort_by=("cell_id",), n_files=2,
    )
    assert len(cat.snapshots("pages_geo")) == n_snaps
    assert cat.read(spark, "pages_geo").count() == 300

    # second landing: incremental drain → read_changes yields exactly
    # the new, already-geocoded rows
    b = P.synth_pages(spark, 380, partitions=2).filter(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") >= 300
    )
    W.write_warc(b, land, prefix="b2-").collect()
    drain_to_catalog(
        P.geocode(W.stream_warc(spark, land), res).select(*cols),
        ckpt, cat, "pages_geo", sort_by=("cell_id",), n_files=2,
    )
    delta = cat.read_changes(spark, "pages_geo", from_snapshot=n_snaps)
    assert {r.url for r in delta.select("url").collect()} == {
        r.url for r in b.select("url").collect()
    }
    assert delta.filter(F.col("cell_id").isNull()).count() == 0


def test_streaming_spatial_join_matches_batch(spark, tmp_path):
    """Stateless operators compose onto the stream unchanged: the full
    geocode → broadcast polygon spatial-join pipeline applied to
    `stream_warc` micro-batches must equal the batch path row-for-row
    (the north rule's join outputs, streaming edition)."""
    import __spark_entry__ as E
    from eodal_spark import geometry
    from eodal_spark.operators import spatial_join as SJ
    from eodal_spark.streaming.ingest import run_available_now

    res = 8
    land = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "joined")
    W.write_warc(P.synth_pages(spark, 2_000, partitions=2), land).collect()
    polys = geometry.polygons_df(spark, E.PAGE_POLYS)

    def pipeline(df):
        return SJ.spatial_join(
            P.geocode(df, res), polys, res, rule="exact"
        ).select("url", "poly_id")

    run_available_now(pipeline(W.stream_warc(spark, land)), ckpt, out)
    got = sorted(map(tuple, spark.read.parquet(out).select("url", "poly_id").collect()))
    want = sorted(map(tuple, pipeline(W.read_warc(spark, land)).collect()))
    assert got == want and len(got) > 0


def test_warc_roundtrip_fuzz_adversarial_bodies(spark):
    """Content-Length framing must survive adversarial record bodies —
    html containing CRLFCRLF, fake 'WARC/1.0' headers, gzip magic,
    NULs — and unicode urls; value-exact on (url, ts, html bytes)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    adversarial = [
        b"\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\n",
        b"\x1f\x8b\x08fake-gzip",
        b"Content-Length: 9999\r\n\r\n" + b"\x00" * 64,
        b"",
    ]

    @settings(max_examples=20, deadline=None)
    @given(
        body=st.one_of(st.sampled_from(adversarial), st.binary(max_size=300)),
        path=st.text(
            alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            min_size=0, max_size=20,
        ),
        sec=st.integers(min_value=0, max_value=2_000_000_000),
        us=st.integers(min_value=0, max_value=999_999),
    )
    def check(body, path, sec, us):
        from urllib.parse import quote

        url = "https://fuzz.example/p/" + quote(path, safe="")
        ts = dt.datetime.fromtimestamp(sec, dt.timezone.utc).replace(
            tzinfo=None, microsecond=us
        )
        rec = W._record(url, ts, body)
        pdf = W.parse_warc_bytes("f", rec)
        assert len(pdf) == 1
        assert pdf["url"][0] == url
        assert bytes(pdf["html"][0]) == body
        got_ts = pdf["warc_ts"][0].to_pydatetime().replace(tzinfo=None)
        want = dt.datetime.utcfromtimestamp(sec).replace(microsecond=us)
        assert got_ts == want

    check()
