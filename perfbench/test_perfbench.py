"""Tests of the benchmark's own pieces on tiny inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "pass": 0, "start": start, "end": end}


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("a", "pass", None, 0.0, 10.0),
        _span("b", "x", "a", 1.0, 4.0),
        _span("c", "y", "a", 3.0, 6.0),  # overlaps b: covered is 1..6
        _span("d", "z", "b", 2.0, 3.0),
    ]
    st = harness.self_times(spans)
    assert st["a"] == pytest.approx(5.0)
    assert st["b"] == pytest.approx(2.0)
    assert st["c"] == pytest.approx(3.0)
    assert st["d"] == pytest.approx(1.0)


def test_union_length_merges_touching_and_ignores_empty():
    assert harness.union_length([(0, 1), (1, 2), (5, 5), (4, 6)]) == pytest.approx(4.0)
    assert harness.union_length([]) == 0.0


# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n,expected",
    [(1000, 99.0), (200, 95.0), (100, 90.0), (99, 80.0), (50, 80.0), (40, 75.0), (39, None), (5, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert harness.tail_percentile(n) == expected


def test_summarize_reports_median_and_tail():
    s = harness.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_pct"] == 90.0 and s["tail"] == 90.0
    assert "tail" not in harness.summarize([1.0, 2.0, 3.0])


# ---------------------------------------------------------------------------
# event log → spans
# ---------------------------------------------------------------------------


def _events(t0_ms: int) -> list[str]:
    def job(jid, group, submit, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group} if group else {}}

    def stage(sid, submit, complete):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Submission Time": submit, "Completion Time": complete}}

    def task(sid, run_ms, shuffle_read=0, shuffle_write=0, py=0, failed=False):
        acc = [{"Name": "time to run Python workers", "Update": str(py)}] if py else []
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {"Executor Run Time": run_ms, "Disk Bytes Spilled": 7,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read,
                                                          "Fetch Wait Time": 5}}}

    t = t0_ms
    evs = [
        job(0, "s1", t + 100, [0, 1]),
        stage(0, t + 110, t + 400), stage(1, t + 400, t + 900),
        task(0, 100, shuffle_write=1000), task(0, 120, shuffle_write=1000),
        task(1, 50, shuffle_read=600), task(1, 60, shuffle_read=600), task(1, 300, shuffle_read=800),
        # a streaming micro-batch: its own job group, inside span s2
        job(1, "stream-run-id", t + 1500, [2]),
        stage(2, t + 1500, t + 1700),
        task(2, 40, py=30), task(2, 40, py=20, failed=True),
        # a job outside every span is dropped
        job(2, None, t + 9000, [3]),
    ]
    return [json.dumps(e) for e in evs]


def test_event_log_attribution_by_group_and_by_time():
    t0 = 1_700_000_000.0
    spans = [
        _span("s0", "pass", None, t0, t0 + 2.0),
        _span("s1", "full", "s0", t0 + 0.05, t0 + 1.0),
        _span("s2", "drain", "s0", t0 + 1.2, t0 + 1.9),
    ]
    log = eventlog.parse(_events(int(t0 * 1000)))
    jobs = eventlog.attribute(log, spans)
    assert jobs == {"s0": [], "s1": [0], "s2": [1]}

    m = eventlog.span_metrics(log, spans, jobs, "s1")
    assert (m["jobs"], m["stages"]) == (1, 2)
    assert m["shuffle_bytes"] == 2000
    assert m["spill_bytes"] == 35
    assert m["fetch_wait_s"] == pytest.approx(0.025)
    assert m["skew"] == pytest.approx(300 / 60)
    assert m["python_worker_s"] == 0
    # s1 is 0.95 s long; stages cover 0.11..0.9 of it
    assert m["gap_s"] == pytest.approx(0.95 - 0.79)

    m2 = eventlog.span_metrics(log, spans, jobs, "s2")
    assert m2["python_worker_s"] == pytest.approx(0.05)
    assert m2["tasks_failed"] == 1
    assert m2["skew"] == 1.0  # no shuffle read

    whole = eventlog.span_metrics(log, spans, jobs, "s0")
    assert whole["jobs"] == 2 and whole["stages"] == 3


BURN = """
import os, sys, time
def burn(s):
    t = time.process_time()
    while time.process_time() - t < s:
        pass
burn(0.3)
pid = os.fork()
if pid == 0:
    burn(0.3)
    os._exit(0)
os.waitpid(pid, 0)
print("done", flush=True)
sys.stdin.read()
"""


def test_cpu_seconds_counts_the_tree_and_its_reaped_children():
    child = subprocess.Popen([sys.executable, "-c", BURN], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        # the child's own 0.3 s, and its exited grandchild's 0.3 s through cutime
        tree = harness.cpu_seconds(child.pid) - harness.cpu_seconds()
        assert 0.55 <= tree < 5.0
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    mine = harness.cpu_seconds()
    sum(i * i for i in range(2_000_000))
    assert harness.cpu_seconds() > mine


def test_tracer_records_nesting_and_disabled_tracer_records_nothing():
    tr = harness.Tracer(True)
    tr.pass_id = 3
    with tr.span("outer"):
        with tr.span("inner", kind="x") as s:
            pass
    assert [(r["name"], r["parent"], r["pass"]) for r in tr.spans] == [
        ("outer", None, 3), ("inner", "s0", 3)]
    assert s["kind"] == "x" and s["end"] >= s["start"]
    off = harness.Tracer(False)
    with off.span("outer") as s:
        assert s is None
    assert off.spans == []


# ---------------------------------------------------------------------------
# inputs and oracle digests
# ---------------------------------------------------------------------------


def test_sql_digest_is_order_free_and_sees_duplicates():
    con = inputs.connect()

    def dig(values):
        return inputs.digest_sql(con, f"SELECT * FROM (VALUES {values}) t(a, b)", ("a", "b"))

    base = dig("(1, 'a'), (2, 'b'), (3, 'c')")
    assert base.startswith("3:")
    assert base == dig("(3, 'c'), (1, 'a'), (2, 'b')")
    assert base != dig("(1, 'a'), (2, 'b'), (3, 'c'), (1, 'a')")
    assert base != dig("(1, 'a'), (2, 'b'), (3, 'd')")
    assert inputs.digest_sql(con, "SELECT 1 AS a WHERE false", ("a",)) == "0:0000000000000000"


def test_pages_are_seeded_and_carry_their_geo_in_the_body():
    con = inputs.connect()
    a = con.execute(f"SELECT * FROM ({inputs.pages_sql(inputs.pages_spec(50, 1))})").fetchall()
    b = con.execute(f"SELECT * FROM ({inputs.pages_sql(inputs.pages_spec(50, 1))})").fetchall()
    c = con.execute(f"SELECT url FROM ({inputs.pages_sql(inputs.pages_spec(50, 2))})").fetchall()
    assert a == b and {r[0] for r in a}.isdisjoint({r[0] for r in c})
    for url, _, _, html, text, lang, lat, lon, n_chars, _ in a:
        assert f" geo {lat} {lon} lang {lang} " in text
        assert html == f"<html><head><title>p{url.rsplit('/', 1)[1]}</title></head><body><p>{text}</p></body></html>".encode()
        assert n_chars == len(text)


def test_pip_sql_matches_the_numpy_reference():
    from eodal_spark import geometry

    rng = np.random.default_rng(0)
    import random

    polys = [
        (1, inputs.ngon(10.0, 20.0, 2.0, 7, random.Random(1))),
        (2, inputs.multi_wkt([inputs.square(-30.0, 5.0, 3.0), inputs.square(-30.0, 5.0, 1.5)])),
        (3, inputs.multi_wkt([inputs.ngon(50, 0, 1, 6, random.Random(2))],
                             [inputs.ngon(54, 0, 1, 6, random.Random(3))])),
        (4, inputs.multi_wkt([inputs.square(0.0, 0.0, 1.0), inputs.square(0.0, 0.0, 0.5)],
                             [inputs.ngon(3, 0, 1, 6, random.Random(4))])),
    ]
    con = inputs.connect()
    inputs.register_polygons(con, "polys", polys)
    for pid, geom in polys:
        rings = [geometry._clean_ring(r) for part in geometry._as_parts(geom) for r in part]
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        px = rng.uniform(xs.min() - 1, xs.max() + 1, 400)
        py = rng.uniform(ys.min() - 1, ys.max() + 1, 400)
        con.execute("CREATE OR REPLACE TEMP TABLE pts AS SELECT * FROM (SELECT unnest(?) AS i, unnest(?) AS x, unnest(?) AS y)",
                    [list(range(400)), px.tolist(), py.tolist()])
        got = {r[0] for r in con.execute(
            f"SELECT i FROM pts, polys WHERE polys.poly_id = {pid} AND {inputs.pip_sql('polys', 'x', 'y')}"
        ).fetchall()}
        if pid == 1:
            want = geometry.np_pip_convex(px, py, *rings[0])
        else:
            want = geometry.np_pip_even_odd_rings(px, py, [r[0] for r in rings], [r[1] for r in rings])
        assert got == set(np.flatnonzero(want).tolist())
        assert 0 < len(got) < 400


def test_warc_archives_parse_back_through_the_engine(tmp_path):
    from eodal_spark.sources import warc as W

    con = inputs.connect()
    spec = inputs.pages_spec(30, 5)
    inputs.write_warc_archives(con, spec, str(tmp_path), range(0, 30), 3, "x-")
    got = []
    for f in sorted(os.listdir(tmp_path)):
        df = W.parse_warc_bytes(f, (tmp_path / f).read_bytes())
        got += [(u, int(t.timestamp()), bytes(h)) for u, t, h in zip(df["url"], df["warc_ts"], df["html"])]
    want = con.execute(f"SELECT url, ts_sec, html FROM ({inputs.pages_sql(spec)})").fetchall()
    assert sorted(got) == sorted((u, t, bytes(h)) for u, t, h in want)


def test_query_rounds_are_seeded_and_share_their_shapes():
    import aoi

    spec = inputs.pages_spec(100, 4)
    a, b = aoi.make_rounds(spec, 4), aoi.make_rounds(spec, 4)
    assert a == b and a != aoi.make_rounds(spec, 5)
    for r in a:
        assert sorted(q["type"] for q in r) == ["aoi", "knn", "lookup"]
        (q,) = [q for q in r if q["type"] == "aoi"]
        convex, holed_multi = (g for _, g in q["polys"])
        assert isinstance(convex, list) and holed_multi.startswith("MULTIPOLYGON")


def test_benchmark_json_names_metrics_the_run_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.workloads())
    for m in bench["per_layer"]:
        assert run.PER_LAYER[m["name"]] == m["unit"]
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "op_cpu_s"}


def test_run_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mosaic_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------------------
# one tiny pass through Spark, checked by its DuckDB oracle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    s = harness.start_spark(work, None)
    yield s
    harness.stop_spark(s)


def test_mosaic_pass_matches_its_oracle(spark, tmp_path, monkeypatch):
    import mosaic

    monkeypatch.setattr(mosaic, "N_PAGES", 3000)
    wl = mosaic.Mosaic(9, str(tmp_path))
    con = inputs.connect()
    wl.materialize(spark, con, str(tmp_path / "in"))
    wl.prepare(spark, con)
    assert wl.expected_rows > 100
    wl.op(spark, harness.Tracer(False))
    assert wl.check(spark)
    # a wrong answer is caught: drop one output row
    out = spark.read.parquet(wl.out)
    out.limit(wl.expected_rows - 1).write.mode("overwrite").parquet(str(tmp_path / "short"))
    wl.out = str(tmp_path / "short")
    assert not wl.check(spark)


def test_query_round_matches_its_oracle(spark, tmp_path, monkeypatch):
    import aoi

    monkeypatch.setattr(aoi, "N_PAGES", 3000)
    qr = aoi.QueryRounds(9)
    con = inputs.connect()
    qr.materialize(con, str(tmp_path))
    qr.build(spark)
    qr.prepare(spark, con)
    qr.round(spark, harness.Tracer(False))
    assert qr.check()
    got = {r["q"]["type"]: r["got"] for r in qr.last}
    assert len(got["aoi"]) == 2 and len(got["knn"]) == aoi.K  # both AOIs hit pages
    fig = qr.figures()
    assert 0 < fig["catalog.files_kept_ratio"] < 1 and 0 < fig["spatial_join.refine_yield"] <= 1
    # a wrong answer is caught: drop the last kNN neighbour
    knn = next(r for r in qr.last if r["q"]["type"] == "knn")
    knn["got"] = knn["got"][:-1]
    assert not qr.check()


def test_ingest_op_lands_every_row_once(spark, tmp_path, monkeypatch):
    import aoi
    import ingest

    monkeypatch.setattr(ingest, "N_PAGES", 300)
    monkeypatch.setattr(ingest, "LATE_PAGES", 100)
    monkeypatch.setattr(aoi, "N_PAGES", 2000)
    wl = ingest.IngestQuery(3, str(tmp_path / "work"))
    con = inputs.connect()
    wl.materialize(spark, con, str(tmp_path / "in"))
    wl.build(spark)
    wl.prepare(spark, con)
    wl.op(spark, harness.Tracer(False))
    assert wl.check(spark) and wl.table_stats()["streaming.batches"] == 2
    # a batch that lands twice is caught
    landed = wl.cat.read(spark, ingest.TABLE)
    wl.cat.write(landed.limit(5), ingest.TABLE, mode="append")
    assert not wl.check(spark)
