"""Benchmark plumbing shared by every workload: the session this host
can afford, spans around calls into the engine, the percentile rule,
a sampler for the peak RSS of the Spark JVM and its Python workers, the
CPU time of the run's processes, and a reference loop that measures the
speed of the cores they ran on.

Nothing here imports Spark at module load; the session is built only
when a workload asks for it.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# session sizing
# ---------------------------------------------------------------------------


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A heap that leaves most of the machine to the OS page cache
    (which holds the benchmark's inputs) and to the Python workers:
    a sixth of RAM, clamped to 1-4 GB."""
    return max(1024, min(4096, mem_total_mb() // 6))


def session_conf(work_dir: str, event_log_dir: str | None) -> dict:
    """The benchmark's own Spark conf, passed to ``get_spark`` as
    ``extra_conf`` so the library's cluster-sized defaults (a 16 GB
    heap) never apply on a small host."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        # a fixed set of JIT compiler threads, so cpu_seconds can leave
        # their time out exactly
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        # Spark 4.x defaults to a zstd-compressed rolling directory; a
        # plain single JSON-lines file is what eventlog.py parses, and
        # the directory must exist before the context starts
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            }
        )
    return conf


def start_spark(work_dir: str, event_log_dir: str | None):
    from eodal_spark.session import get_spark

    cpus = host_cpus()
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf=session_conf(work_dir, event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it:
    the gateway JVM exits when its stdin closes, and the Python
    workers it forked exit with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine, kept in memory.

    A span holds its name, wall-clock start and end (``time.time()``,
    the clock Spark's event log uses), its parent and the pass it
    belongs to.  While a span is open its id is the Spark job group,
    so stages in the event log map back onto spans.  A disabled tracer
    records nothing and touches no Spark state: untraced runs pay
    nothing for the instrumentation."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._sc = spark.sparkContext if (enabled and spark is not None) else None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self.pass_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["id"], rec["name"])


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        ivs = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(ivs)
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

# candidates for the tail percentile, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples
    beyond it (nearest-rank), or None when even p75 has fewer."""
    for p in TAIL_CANDIDATES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            return p
    return None


def summarize(samples: list[float]) -> dict:
    """Median plus the tail percentile the sample count supports."""
    vals = sorted(samples)
    out = {"n": len(vals), "p50": statistics.median(vals) if vals else float("nan")}
    p = tail_percentile(len(vals))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = nearest_rank(vals, p)
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM and the
    Python workers it forks) every ``interval`` seconds while active,
    keeping the peak of the current window (``window()`` starts one)."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kb = sum(_rss_kb(p) for p in _proc_tree(self.root_pid))
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)
        return kb

    def window(self) -> int:
        """Close the current window: take a last sample, return the
        window's peak in kB, and start the next window."""
        self.sample()
        with self._lock:
            peak, self._peak_kb = self._peak_kb, 0
        return peak

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        self.native_id = self._thread.native_id  # for cpu_seconds(skip_threads=)
        return self

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# processor time
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads (thread names are cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None  # the process or thread ended between listing and reading
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 1:].split()


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of the children it has
    reaped (cutime + cstime), in clock ticks."""
    st = _stat(f"/proc/{pid}/stat")
    return sum(int(v) for v in st[1][11:15]) if st else 0


def _thread_ticks(pid: int, keep) -> int:
    """utime + stime of the live threads of ``pid`` whose (tid, name)
    ``keep`` accepts, in clock ticks."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and keep(int(tid), st[0]):
            total += int(st[1][11]) + int(st[1][12])
    return total


def cpu_seconds(root_pid: int | None = None, skip_threads=()) -> float:
    """CPU seconds used so far by this process (the client with its
    DuckDB and py4j threads, less the threads in ``skip_threads``) plus,
    when given, the process tree under ``root_pid`` (the Spark JVM and
    the Python workers it forks), less the JVM's JIT compiler threads.

    A process that exited was reaped by its parent inside the tree, so
    its time is in the parent's cutime: the sum over the live tree of
    own + reaped-children time counts every process once.  The compiler
    threads are left out because on a JVM still warming up their work
    lands on whichever op happens to be running; they must not exit
    (``start_spark`` turns off the JVM's dynamic compiler threads), or
    their time would stay in the process total but leave the part
    subtracted.  Time the hypervisor gave to other guests (steal) is in
    none of these counters."""
    t = os.times()
    ticks = -_thread_ticks(os.getpid(), lambda tid, _: tid in skip_threads)
    if root_pid is not None:
        ticks += sum(_cpu_ticks(p) for p in _proc_tree(root_pid))
        ticks -= _thread_ticks(root_pid, lambda _, name: name.startswith(JIT_THREADS))
    return t.user + t.system + ticks / CLK_TCK


# The reference loop and its processor time on a reference core: the
# 4-core VM the first numbers in README.md were measured on, while its
# host was quiet.  A loop like it took 2.3x as long there while the host
# was busy, and the processor time of a mosaic pass grew about 2x.
REF_LOOP = 1_000_000
REF_CORE_S = 0.0365


def ref_seconds() -> float:
    """Processor time of the calling thread for a fixed pure-Python
    loop: how fast a core of this run is.  Time stolen by the
    hypervisor is not in it; a core slowed by a busy host (its sibling
    hyperthread, its clock) is."""
    t = time.thread_time()
    x = 0
    for i in range(REF_LOOP):
        x += i
    return time.thread_time() - t
