"""Profile registered queries through Spark's own event log.

    python scripts/profile_queries.py <name> [<name> ...]

Each name is a key of ``__spark_entry__.queries()`` or ``headline``
(``mapper.headline_stages`` folded over the stored pages table that
``bench.materialize_pages`` writes once).  Inputs come from bench.py's
env knobs: ``SPARK_GRAFT_SF_DIR`` (the queries' input dir),
``SPARK_GRAFT_BENCH_ROWS`` (the headline's pages rows) and
``SPARK_GRAFT_BENCH_DIR`` (where the pages table is kept).

One session (perfbench's ``harness.start_spark``, event log on) runs,
for each name in turn, one warm run and then one run inside a
``Tracer`` span of that name; both write every column to the ``noop``
sink.  After the session stops, perfbench's ``eventlog`` attributes the
traced run's jobs, stages and tasks, and one more pass over the task
ends sums the SQL metrics that split task time into layers:

- ``scan_s``: the "scan time" of the file scans;
- ``catalyst_s``: WholeStageCodegen "duration" less scan time, clipped
  per stage so the layers never exceed that stage's task time (nested
  codegen stages overlap);
- ``exchange.write_s``: shuffle write time;
- ``exchange.fetch_wait_s``: shuffle fetch wait time.

``coverage`` is the layers' sum over the summed executor run time
(``task_s``).  Prints one markdown table and writes one JSON per name
to ``.perfbench_work/profile/<name>.json`` in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# eventlog.py imports harness as a top-level module
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import eventlog  # noqa: E402
import harness  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench_work", "profile")

# SQL metric names carried in TaskEnd accumulables (Spark 4.1)
SCAN_TIME = "scan time"
CODEGEN_TIME = "duration"


def stage_layers(lines) -> dict[int, dict]:
    """Event-log JSON lines → stage id → summed task figures in ms:
    run time, scan time, codegen duration, shuffle write time and
    fetch wait."""
    out: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        st = out.setdefault(
            ev["Stage ID"],
            {"run": 0.0, "scan": 0.0, "codegen": 0.0, "write": 0.0, "fetch_wait": 0.0},
        )
        m = ev.get("Task Metrics") or {}
        st["run"] += m.get("Executor Run Time", 0)
        st["write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Write Time", 0) / 1e6
        st["fetch_wait"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables") or []:
            key = {SCAN_TIME: "scan", CODEGEN_TIME: "codegen"}.get(a.get("Name"))
            if key:
                st[key] += int(a.get("Update") or 0)
    return out


def layers(per_stage: dict[int, dict], stage_ids) -> dict:
    """The four layers, task time and coverage over ``stage_ids``."""
    tot = {"scan_s": 0.0, "catalyst_s": 0.0, "exchange.write_s": 0.0,
           "exchange.fetch_wait_s": 0.0, "task_s": 0.0}
    for sid in stage_ids:
        st = per_stage.get(sid)
        if st is None:
            continue
        rest = max(0.0, st["run"] - st["scan"] - st["write"] - st["fetch_wait"])
        tot["scan_s"] += st["scan"] / 1000
        tot["catalyst_s"] += min(max(0.0, st["codegen"] - st["scan"]), rest) / 1000
        tot["exchange.write_s"] += st["write"] / 1000
        tot["exchange.fetch_wait_s"] += st["fetch_wait"] / 1000
        tot["task_s"] += st["run"] / 1000
    covered = sum(v for k, v in tot.items() if k != "task_s")
    tot["coverage"] = covered / tot["task_s"] if tot["task_s"] > 0 else 0.0
    return tot


def span_stages(ev: dict, spans: list[dict], jobs_of: dict, root_id: str) -> list[int]:
    """Ids of the stages that ran for the jobs of a span's subtree."""
    jobs = [j for sid in eventlog.subtree(spans, root_id) for j in jobs_of[sid]]
    return sorted({s for j in jobs for s in ev["jobs"][j]["stages"]
                   if ev["stages"].get(s, {}).get("ran")})


def profile(ev: dict, per_stage: dict, spans: list[dict], jobs_of: dict, span: dict) -> dict:
    """One traced run's figures in perfbench's vocabulary."""
    em = eventlog.span_metrics(ev, spans, jobs_of, span["id"])
    return {
        "wall_s": span["end"] - span["start"],
        "driver.jobs": em["jobs"],
        "driver.stages": em["stages"],
        "driver.gap_s": em["gap_s"],
        "exchange.shuffle_bytes": em["shuffle_bytes"],
        "exchange.spill_bytes": em["spill_bytes"],
        "exchange.skew": em["skew"],
        "python.worker_s": em["python_worker_s"],
        "python.bytes_in": em["python_bytes_in"],
        "python.bytes_out": em["python_bytes_out"],
        "tasks.failed": em["tasks_failed"],
        **layers(per_stage, span_stages(ev, spans, jobs_of, span["id"])),
    }


COLUMNS = ("wall_s", "driver.jobs", "driver.gap_s", "task_s", "scan_s", "catalyst_s",
           "exchange.write_s", "exchange.fetch_wait_s", "python.worker_s", "coverage")


def table(rows: dict[str, dict]) -> str:
    lines = ["| query | " + " | ".join(COLUMNS) + " |",
             "|---|" + "---:|" * len(COLUMNS)]
    for name, r in rows.items():
        cells = [str(r[c]) if c == "driver.jobs" else f"{r[c]:.2f}" for c in COLUMNS]
        lines.append(f"| `{name}` | " + " | ".join(cells) + " |")
    return "\n".join(lines)


def main(names: list[str]) -> None:
    if not names:
        sys.exit(__doc__)
    import __spark_entry__ as E
    import bench
    from eodal_spark.mapper import headline_stages

    qs = E.queries()
    unknown = [n for n in names if n != "headline" and n not in qs]
    if unknown:
        sys.exit(f"not a queries() key or 'headline': {unknown}")
    work = os.path.join(ROOT, ".perfbench_work", f"profile-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    try:
        spark = harness.start_spark(work, log_dir)
        try:
            if "headline" in names:
                bench_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/eodal_spark_bench")
                pages_path = bench.materialize_pages(
                    spark, bench.BENCH_ROWS, os.path.join(bench_dir, f"pages_{bench.BENCH_ROWS}")
                )

            def run(name: str) -> None:
                if name == "headline":
                    df = spark.read.parquet(pages_path)
                    polys = E._polys_spark(spark)
                    for _, fn, _ in headline_stages(polys, E.RES, E.JOIN_RES, E.TILE_RES):
                        df = fn(df)
                else:
                    df = qs[name](spark, bench.SF_DIR)
                df.write.format("noop").mode("overwrite").save()

            tr = harness.Tracer(True, spark)
            for name in names:
                t0 = time.time()
                run(name)
                print(f"profile: {name} warm run {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
                with tr.span(name):
                    run(name)
        finally:
            harness.stop_spark(spark)  # flushes and closes the event log
        with open(eventlog.find_log(log_dir)) as f:
            lines = f.readlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ev = eventlog.parse(lines)
    per_stage = stage_layers(lines)
    jobs_of = eventlog.attribute(ev, tr.spans)
    os.makedirs(OUT_DIR, exist_ok=True)
    meta = {"cpus": harness.host_cpus(), "sf_dir": bench.SF_DIR}
    rows = {}
    for span in tr.spans:
        rows[span["name"]] = profile(ev, per_stage, tr.spans, jobs_of, span)
        extra = {"rows": bench.BENCH_ROWS} if span["name"] == "headline" else {}
        with open(os.path.join(OUT_DIR, f"{span['name']}.json"), "w") as f:
            json.dump({"query": span["name"], **meta, **extra, **rows[span["name"]]}, f, indent=1)
    print(f"cpus {meta['cpus']}, sf dir {bench.SF_DIR}"
          + (f", headline rows {bench.BENCH_ROWS}" if "headline" in names else ""))
    print(table(rows))


if __name__ == "__main__":
    main(sys.argv[1:])
