"""Repository benchmark: seeded workloads against the engine's public
functions, end-to-end metrics from an untraced run and per-layer
metrics from a traced run.

    python3 perfbench/run.py --workload mosaic_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  Human-readable lines come first;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import eventlog
import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_OPS = 3  # measured ops per run, however long they take (unless a workload sets its own)
MIN_TRACED_OPS = 2  # traced ops per traced run; each also runs the prefix actions
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)

# unit of every per-layer figure the traced run computes; the JSON line
# carries the ones BENCHMARK.json names
PER_LAYER = {
    "pages.scan_s": "s",
    "pages.geocode_s": "s",
    "spatial_join.plan_s": "s",
    "spatial_join.self_s": "s",
    "spatial_join.refine_yield": "ratio",
    "tiling.dedup_s": "s",
    "tiling.dedup_ratio": "ratio",
    "sink.write_s": "s",
    "exchange.shuffle_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.skew": "ratio",
    "python.worker_s": "s",
    "python.bytes_in": "bytes",
    "python.bytes_out": "bytes",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.gap_s": "s",
    "catalog.plan_s": "s",
    "catalog.files_kept_ratio": "ratio",
    "catalog.write_s": "s",
    "catalog.manifest_bytes": "bytes",
    "catalog.write_amp": "ratio",
    "knn.call_s": "s",
    "knn.jobs": "count",
    "warc.parse_s": "s",
    "streaming.batches": "count",
    "tasks.failed": "count",
    "trace.overhead": "ratio",
}


def benchmark_metrics(kind: str) -> list[str]:
    """Metric names of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def workloads() -> dict:
    from ingest import IngestQuery
    from mosaic import Mosaic

    return {w.name: w for w in (Mosaic, IngestQuery)}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["all", "mosaic_pipeline", "ingest_query"],
                    help="'all' runs each workload of BENCHMARK.json in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


class Run:
    """Counts attempted and failed operations; an exception in an op or
    a wrong answer both count as a failure."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.jvm = harness.jvm_pid(spark)
        self.skip_threads = ()  # the RSS sampler's, while it runs
        self.refs: list[float] = []  # harness.ref_seconds() before and after each op
        self.attempted = self.failed = 0

    def cpu(self) -> float:
        return harness.cpu_seconds(self.jvm, self.skip_threads)

    def one(self, tr, traced: bool = False):
        """Run and check one op → (timed seconds, wall seconds, CPU
        seconds, extra).  The CPU window is the op call, not its check."""
        extra = {}
        self.refs.append(harness.ref_seconds())
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            ret = (self.wl.traced_op if traced else self.wl.op)(self.spark, tr)
            wall, cpu = time.perf_counter() - t0, self.cpu() - c0
            ok = self.wl.check(self.spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ret, ok = None, False
            wall, cpu = time.perf_counter() - t0, self.cpu() - c0
        self.refs.append(harness.ref_seconds())
        log(f"op {self.attempted}: {wall:.3f}s wall, {cpu:.2f}s CPU, reference loop "
            f"{self.refs[-2] * 1000:.1f}/{self.refs[-1] * 1000:.1f} ms, "
            f"checked in {time.perf_counter() - t0 - wall:.3f}s, ok={ok}")
        self.attempted += 1
        self.failed += not ok
        if traced:
            extra = ret or {}
        timed = ret if isinstance(ret, float) else wall
        return timed, wall, cpu, extra


def setup(args, work):
    import inputs

    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    c0 = harness.cpu_seconds()
    t0 = time.perf_counter()
    spark = harness.start_spark(work, trace_dir)
    jvm_s = time.perf_counter() - t0
    con = inputs.connect()
    wl = workloads()[args.workload](args.seed, work)
    t = time.perf_counter()
    wl.materialize(spark, con, os.path.join(work, "input"))
    mat_s = time.perf_counter() - t
    build_s = 0.0
    if hasattr(wl, "build"):  # engine-side set-up (the queried catalog)
        t = time.perf_counter()
        wl.build(spark)
        build_s = time.perf_counter() - t
    setup = {"cpu": harness.cpu_seconds(harness.jvm_pid(spark)) - c0,
             "wall": time.perf_counter() - t0,
             "refs": [harness.ref_seconds() for _ in range(3)]}
    log(f"JVM started in {jvm_s:.2f}s, inputs materialized in {mat_s:.2f}s, "
        f"built in {build_s:.2f}s; set-up {setup['cpu']:.2f}s CPU")
    wl.prepare(spark, con)
    log("oracles prepared")
    return spark, wl, trace_dir, setup


def warm_up(run, wl, off) -> None:
    """The workload's own cold-start pass if it has one, then its
    warm-up ops (checked and counted, not timed)."""
    if hasattr(wl, "warm_up"):
        t = time.perf_counter()
        wl.warm_up(run.spark)
        log(f"cold warm-up pass: {time.perf_counter() - t:.3f}s")
    for _ in range(wl.WARMUP_OPS):
        run.one(off)


def measure(args, spark, wl, setup) -> tuple[dict, list[str], Run]:
    off = harness.Tracer(False)
    run = Run(spark, wl)
    warm_up(run, wl, off)
    q0 = len(getattr(wl, "query_durs", ()))
    durs, cpus, parts, peaks = [], [], [], []
    t_end = time.perf_counter() + args.seconds
    with harness.RssSampler(run.jvm) as rss:
        run.skip_threads = (rss.native_id,)
        while time.perf_counter() < t_end or len(durs) < getattr(wl, "MIN_OPS", MIN_OPS):
            rss.window()
            timed, _, cpu, _ = run.one(off)
            durs.append(timed)
            cpus.append(cpu)
            parts.append(dict(getattr(wl, "parts", {})))
            peaks.append(rss.window() / 1024)
    log(f"measured {len(durs)} ops (s): {' '.join(f'{d:.3f}' for d in durs)}")
    # the median over ops of each op's peak: one GC-timed spike does
    # not decide the run
    rss_mb = statistics.median(peaks)
    # processor seconds rescaled to the reference core: a busy host's
    # slower cores slow the reference loop as well.  One loop takes tens
    # of milliseconds and the cores' speed drifts within seconds, so the
    # scale is the median over the whole run, not the loop next to an op
    scale = harness.REF_CORE_S / statistics.median(setup["refs"] + run.refs)
    metrics = {
        "op_cpu_s": (statistics.median(cpus) * scale, "s"),
        "setup_s": (setup["cpu"] * scale, "s"),
    }
    queries = getattr(wl, "query_durs", [])[q0:]
    lines = report_lines(wl, durs, cpus, scale, parts, queries, run, setup, rss_mb)
    return metrics, lines, run


def report_lines(wl, durs, cpus, scale, parts, queries, run, setup, rss_mb) -> list[str]:
    """The report lines: every user-level figure with its unit and
    sample count."""
    n_refs = len(setup["refs"]) + len(run.refs)
    out = [f"setup_s {setup['cpu'] * scale:.4f} s (reference-core CPU: JVM start + "
           f"materialization + build; {setup['cpu']:.2f} s CPU here, {setup['wall']:.2f} s wall)",
           f"op_cpu_s {statistics.median(cpus) * scale:.4f} s n={len(cpus)} (reference-core CPU, "
           f"median per op; {statistics.median(cpus):.4f} s CPU here)",
           f"core_speed {scale:.4f} x reference n={n_refs} "
           f"(reference loop: median {harness.REF_CORE_S / scale * 1000:.1f} ms)"]
    s = harness.summarize(durs)
    out.append(f"op_p50_ms {s['p50'] * 1000:.3f} ms n={s['n']} (median wall per op)")
    if wl.name == "ingest_query":
        ingest = statistics.median(p["ingest_s"] for p in parts)
        out.append(f"rows_per_s {wl.rows_in / ingest:.1f} rows/s n={s['n']} (median ingest pass)")
        out.append(f"round_p50_ms {statistics.median(p['round_s'] for p in parts) * 1000:.3f} ms "
                   f"n={s['n']}")
        q = harness.summarize([d for _, d in queries])
        out.append(f"query_p50_ms {q['p50'] * 1000:.3f} ms n={q['n']}")
        if "tail" in q:
            out.append(f"query_p{q['tail_pct']:g}_ms {q['tail'] * 1000:.3f} ms n={q['n']}")
        for k in ("aoi", "knn", "lookup"):
            ks = [d for kk, d in queries if kk == k]
            name = "aoi_zonal" if k == "aoi" else k
            out.append(f"{name}_p50_ms {statistics.median(ks) * 1000:.3f} ms n={len(ks)}")
    else:
        out.append(f"rows_per_s {wl.rows_in / s['p50']:.1f} rows/s n={s['n']} (median pass)")
    if "tail" in s:
        out.append(f"op_p{s['tail_pct']:g}_ms {s['tail'] * 1000:.3f} ms n={s['n']}")
    for k, (v, unit) in getattr(wl, "report", dict)().items():
        out.append(f"{k} {v:.4f} {unit}")
    out.append(f"error_rate {run.failed / max(run.attempted, 1):.4f} ratio n={run.attempted}")
    out.append(f"peak_rss_mb {rss_mb:.1f} MB (median over ops of the peak during each op)")
    return out


def measure_traced(args, spark, wl, trace_dir) -> tuple[dict, list[str], Run]:
    """Alternate untraced and traced ops; per-layer figures are medians
    over the traced ones."""
    off, on = harness.Tracer(False), harness.Tracer(True, spark)
    run = Run(spark, wl)
    warm_up(run, wl, off)
    plain, traced = [], []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(traced) < MIN_TRACED_OPS:
        plain.append(run.one(off)[1])
        on.pass_id = len(traced)
        with on.span("pass") as p:
            extra = run.one(on, traced=True)[3]
        traced.append((p["id"], extra, p["end"] - p["start"]))
    log(f"measured: {len(plain)} untraced, {len(traced)} traced ops")
    spark.stop()  # flushes and closes the event log
    with open(eventlog.find_log(trace_dir)) as f:
        ev = eventlog.parse(f)
    spans = on.spans
    jobs_of = eventlog.attribute(ev, spans)
    per_pass = []
    for pid, extra, _ in traced:
        per_pass.append({**layer_figures(ev, spans, jobs_of, pid), **extra})
    values = {}
    for name in PER_LAYER:
        got = [m[name] for m in per_pass if name in m]
        values[name] = statistics.median(got) if got else 0.0
    values["tasks.failed"] = float(sum(m.get("tasks.failed", 0) for m in per_pass))
    values["trace.overhead"] = statistics.median([w for _, _, w in traced]) / statistics.median(plain)
    save_spans(args, spans)
    log("event log attributed")
    metrics = {k: (v, PER_LAYER[k]) for k, v in values.items()}
    lines = [f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    lines.append(f"traced ops n={len(traced)}, untraced ops n={len(plain)}")
    if wl.name == "mosaic_pipeline":
        # the prefix deltas telescope: the four layers sum to the wall of
        # the noop-sink prefix through tiling.dedup, and sink.write_s is
        # the rest of the traced full pass
        cover = statistics.median(
            sum(m[k] for k in ("pages.scan_s", "pages.geocode_s",
                               "spatial_join.self_s", "tiling.dedup_s")) / m["full_s"]
            for m in per_pass
        )
        lines.append(
            f"layer coverage {cover:.3f} of the traced full pass "
            f"(the rest is sink.write_s); traced full pass / untraced pass "
            f"{statistics.median(m['full_s'] for m in per_pass) / statistics.median(plain):.3f}"
        )
    return metrics, lines, run


def layer_figures(ev, spans, jobs_of, pass_id) -> dict:
    """Event-log and span figures for one traced op.  The event-log
    root is the op's full run, never its prefix actions, so the figures
    describe what an untraced op does.  Call times are span self times,
    summed over the op."""
    ids = eventlog.subtree(spans, pass_id)
    by_id = {s["id"]: s for s in spans}
    root = next((i for i in ids if by_id[i]["name"] == "full"), pass_id)
    tree = [by_id[i] for i in eventlog.subtree(spans, root)]
    em = eventlog.span_metrics(ev, spans, jobs_of, root)
    out = {
        "exchange.shuffle_bytes": em["shuffle_bytes"],
        "exchange.spill_bytes": em["spill_bytes"],
        "exchange.fetch_wait_s": em["fetch_wait_s"],
        "exchange.skew": em["skew"],
        "python.worker_s": em["python_worker_s"],
        "python.bytes_in": em["python_bytes_in"],
        "python.bytes_out": em["python_bytes_out"],
        "driver.jobs": em["jobs"],
        "driver.stages": em["stages"],
        "driver.gap_s": em["gap_s"],
        "tasks.failed": em["tasks_failed"],
    }

    own = harness.self_times(spans)

    def dur(*names):
        ss = [s for s in tree if s["name"] in names]
        return sum(own[s["id"]] for s in ss) if ss else None

    for key, names in (
        ("spatial_join.plan_s", ("spatial_join.call",)),
        ("catalog.plan_s", ("catalog.scan", "catalog.read")),
        ("knn.call_s", ("knn.call",)),
    ):
        v = dur(*names)
        if v is not None:
            out[key] = v
    for s in tree:
        if s["name"] == "knn.call":
            out["knn.jobs"] = eventlog.span_metrics(ev, spans, jobs_of, s["id"])["jobs"]
    return out


def save_spans(args, spans) -> None:
    d = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(spans, f)


def run_all(args) -> int:
    """One run per workload of BENCHMARK.json, each in its own process
    (one Spark session per process); non-zero if any run failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    rc = 0
    for name in names:
        print(f"== {name}", flush=True)
        p = subprocess.run([
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ])
        rc = rc or p.returncode
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    benchmark_metrics("end_to_end")  # fail before any work without BENCHMARK.json
    if args.workload == "all":
        return run_all(args)
    try:
        import eodal_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        spark, wl, trace_dir, set_up = setup(args, work)
        if args.trace:
            metrics, lines, run = measure_traced(args, spark, wl, trace_dir)
        else:
            metrics, lines, run = measure(args, spark, wl, set_up)
        wl.cleanup()
        log("done")
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(f"correct {run.failed == 0} attempted {run.attempted} failed {run.failed}")
    names = benchmark_metrics("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
