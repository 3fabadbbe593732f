"""Snapshot catalog: checkpoint/resume over versioned table writes.

Production target is Iceberg (snapshot ids, manifest pruning); this
sandbox has no Iceberg runtime jar, so the same contract is implemented
over parquet directories + JSON manifests.  The abstraction is what the
engine codes against — swapping `SnapshotCatalog` for
``df.writeTo(...).append()`` + Iceberg snapshot ids is a one-class
change.

≡ the reference's pickle checkpoint / reload of a SceneCollection
(`eodal/core/scene.py:658-665`, ``:307-329``) and the Mapper's temp-file
resume (`eodal/mapper/mapper.py:599-603`) — done as atomic table
snapshots instead of ad-hoc files.

Write layout: tables are written **sorted by cell_id** (≡ COG tiling,
`eodal/core/raster.py:1759-1783`) so parquet min/max footer stats prune
spatial predicates — the "layout decision" of SURVEY.md §4.

Commit path: each step of a commit has one definition, and every
mutation (`write`, `delete_keys`, `upsert`, `delete_range`,
`delete_where`, binpack `compact`, `cherrypick_snapshot`) is a thin
caller of it.  `_next_sid` allocates the snapshot id as max + 1 over
main AND branch snapshots, so ids are globally monotonic and never
reused across refs (equality-delete sequence numbers and reads by id
depend on that).  `_write_data` writes a commit's parquet files and
reads their footer stats; `_snap_record` builds the manifest record
from the parent (delete state, blooms, partition specs, sort order)
plus the commit's overrides; `_commit_snap` seals the file list into
segments and CASes the manifest, and on `ConcurrentCommitError`
removes the attempt's new dirs, bloom sidecars and segments.  Every
commit, an empty write included, records its ``segments``; a snapshot
without them is not one this catalog wrote, and reading it raises.

Read path: every read call (`read`, `scan`, `count`, `read_changes`,
`file_metrics`, `compact`) loads the manifest once and passes it down.
`_resolve` names the snapshot in that load (explicit main or branch
id, tag, branch head, ``as_of``); `_read_with_deletes` applies its
merge-on-read deletes; `_read` is the one file reader, and its result
schema is the snapshot's, whichever of its files are read.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from eodal_spark.session import local_frame


def _file_stats(data_dir: str, cols: tuple[str, ...]) -> list[dict]:
    """Per-file min/max stats for the clustering columns, read from the
    parquet FOOTERS (metadata plane — no data pages touched).

    ≡ Iceberg's manifest entries: each data file carries lower/upper
    bounds per column, written at commit time.  In a cluster the task
    write-results carry these back to the commit coordinator; reading
    footers at commit is the single-process equivalent (O(files) tiny
    metadata reads, done ONCE per snapshot, amortized over every
    subsequent pruned scan).
    """
    import pyarrow.parquet as pq

    out = []
    names = []
    for root, _dirs, fnames in os.walk(data_dir):
        rel = os.path.relpath(root, data_dir)
        for n in fnames:
            if n.endswith(".parquet"):
                # hive-partitioned writes nest files under pv= subdirs;
                # the recorded name is the dir-relative path so every
                # read path joins (table, dir, name) unchanged
                names.append(n if rel == "." else os.path.join(rel, n))
    for name in sorted(names):
        md = pq.read_metadata(os.path.join(data_dir, name))
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, dict] = {}
        for c in cols:
            if c not in idx:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            stats[c] = {
                "min": _stat_bound(min(mins)) if mins else None,
                "max": _stat_bound(max(maxs)) if maxs else None,
            }
        out.append({"name": name, "rows": md.num_rows, "stats": stats})
    return out


def _dir_probe(data_dir: str) -> str:
    """One data file of a commit dir — every file of one write shares
    its physical schema, so its footer stands for the whole dir."""
    for root, dirs, fnames in os.walk(data_dir):
        dirs.sort()
        for n in sorted(fnames):
            if n.endswith(".parquet"):
                return os.path.join(root, n)
    raise FileNotFoundError(f"no data files under {data_dir}")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed to the table since this commit's
    manifest was loaded — re-read and rebuild the commit."""


_ISO_TS = re.compile(r"^\d{4}-\d{2}-\d{2}T")

# segment-file entry cache (segments are immutable once committed)
_SEG_CACHE: dict[str, list] = {}

# z-order clustering: the derived sort column (dropped before the files
# are written) and the per-axis resolution of the 2-D z-curve
_ZORDER_KEY = "_zorder_key"
_ZORDER_BITS = 16

# a binpack group must hold at least this many undersized files —
# rewriting one small file alone into one file gains nothing
_BINPACK_MIN_FILES = 2


def _iso_t(v: str) -> str:
    """'YYYY-MM-DD HH:MM:SS' → isoformat 'T' separator (stats form)."""
    if len(v) > 10 and v[10] == " ":
        return v[:10] + "T" + v[11:]
    return v


def _stat_bound(v):
    """A value in the manifest-stats value space: bytes → str,
    datetime/date → isoformat.  The footer-stats writer and every user
    range bound go through this one coercion, so they compare
    consistently."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _range_hit(mn, mx, ranges) -> tuple[bool, bool] | None:
    """How inclusive ``ranges`` relate to the stats interval [mn, mx]:
    (some range overlaps it, some range covers it) — or None when a
    bound is not of the stats' kind (string vs not), which callers
    answer their own way (skip, raise or keep).  Stats hold timestamps
    as 'T'-separated isoformat; a Spark-style 'YYYY-MM-DD HH:MM:SS'
    bound would sort BEFORE every same-day stat (' ' < 'T') and
    silently misjudge the file, so string bounds are normalized."""
    is_str = isinstance(mn, str)
    if any(isinstance(b, str) != is_str for r in ranges for b in r):
        return None
    if is_str and _ISO_TS.match(mn):
        ranges = [(_iso_t(lo), _iso_t(hi)) for lo, hi in ranges]
    return (
        any(lo <= mx and mn <= hi for lo, hi in ranges),
        any(lo <= mn and mx <= hi for lo, hi in ranges),
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Iceberg-style partition transforms (spec §"Partition Transforms"):
# ("year"|"month"|"day"|"hour", col) — temporal truncation, range-prunable;
# ("bucket", n, col) — xxhash64 mod n, eq-prunable (point lookups);
# ("truncate", w, col) — string prefix, eq- and range-prunable;
# ("identity", col) — raw value, eq-prunable.
_TIME_FMT = {
    "year": ("yyyy", 4),
    "month": ("yyyy-MM", 7),
    "day": ("yyyy-MM-dd", 10),
    "hour": ("yyyy-MM-dd'T'HH", 13),
}


def _partition_cols(spec: list) -> list:
    """(pv_name, Column) per spec entry — the HIDDEN derived columns the
    physical layout partitions by.  Users never see them: partitionBy
    strips them from the file data and reads go through explicit file
    paths, so the logical schema stays untouched (the 'hidden' in
    Iceberg's hidden partitioning)."""
    from pyspark.sql import functions as F

    out = []
    for i, entry in enumerate(spec):
        t = entry[0]
        name = f"_pv{i}"
        if t in _TIME_FMT:
            fmt, _w = _TIME_FMT[t]
            out.append((name, F.date_format(F.col(entry[1]), fmt)))
        elif t == "bucket":
            _t, n, c = entry
            # hash the CAST(col AS STRING) form — same contract as the
            # bloom sidecars: the scan-time probe hashes str(value), so
            # int and string keys bucket identically on both sides
            out.append(
                (
                    name,
                    F.pmod(
                        F.xxhash64(F.col(c).cast("string")), F.lit(int(n))
                    ),
                )
            )
        elif t == "truncate":
            _t, w, c = entry
            out.append((name, F.substring(F.col(c), 1, int(w))))
        elif t == "identity":
            out.append((name, F.col(entry[1]).cast("string")))
        else:
            raise ValueError(
                f"unknown partition transform {t!r} — supported: "
                f"{sorted(_TIME_FMT)} + ['bucket', 'truncate', 'identity']"
            )
    return out


def _parse_partition(relname: str) -> dict[str, str]:
    """Hive ``k=v`` components of a file's dir-relative path."""
    from urllib.parse import unquote

    out = {}
    for part in relname.split(os.sep)[:-1]:
        if "=" in part:
            k, v = part.split("=", 1)
            out[k] = unquote(v)
    return out


BLOOM_SUFFIX = "-bloom"
# bits and hash count of every new file's bloom (~1% false positives
# at 13.6k keys per file); a snapshot records its own, and compaction
# re-blooms with the table's recorded config
_BLOOM_BITS = 1 << 17
_BLOOM_K = 7


def _bloom_sidecar(data_dir: str) -> str:
    return data_dir + BLOOM_SUFFIX


def _write_bloom_sidecar(
    spark: SparkSession,
    data_dir: str,
    cols: tuple[str, ...],
    bits: int,
    k: int,
) -> None:
    """Build per-(file, column) Bloom filters for the data files in
    ``data_dir`` and write them as a SIDECAR parquet dir — the
    point-lookup pruning tier min/max stats cannot provide: on a
    high-cardinality unsorted key (url, doc_id) every file's [min, max]
    spans the whole domain, so an equality scan of a 100k-file table
    would open every file; a per-file bloom answers "provably absent"
    from O(k) stored words per file, no data pages touched.

    Engine shape: ONE extra Spark job per commit over the new files
    only (column-pruned scan of ``cols``), all-native — ``xxhash64``
    double hashing (h1 + i·h2, the standard Kirsch-Mitzenmacher
    construction), explode to (file, col, bit-position), and a
    map-side-combinable ``bit_or`` per 64-bit word.  Only SET words are
    stored (sparse for small files, ~bits/64 rows when saturated); the
    sidecar is written sorted by (col, word) so the scan-time probe
    reads ≤ k words per file via parquet row-group pushdown.

    Values are hashed as their Spark ``CAST(x AS STRING)`` form —
    restrict ``bloom_cols`` to string / integer columns so the
    scan-time probe ``str(value)`` renders identically.  NULLs are not
    indexed (an equality probe is never NULL).
    """
    import functools

    from pyspark.sql import functions as F

    src = spark.read.parquet(data_dir)
    missing = [c for c in cols if c not in src.columns]
    if missing:
        raise KeyError(
            f"bloom column(s) {missing} not in the written data "
            f"schema {src.columns}"
        )
    parts = []
    for c in cols:
        cs = F.col(c).cast("string")
        # reduce both hashes mod bits BEFORE combining: the raw 64-bit
        # h1 + i*h2 overflows under ANSI mode; with r1, r2 < bits <= 2^31
        # the combination stays far inside long range
        r1 = F.pmod(F.xxhash64(cs), F.lit(bits))
        r2 = F.pmod(F.xxhash64(cs, F.lit(1)), F.lit(bits))
        pos = F.array(
            *[F.pmod(r1 + F.lit(i) * r2, F.lit(bits)) for i in range(k)]
        )
        parts.append(
            src.where(F.col(c).isNotNull()).select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("fname"),
                F.lit(c).alias("col"),
                F.explode(pos).alias("pos"),
            )
        )
    allp = functools.reduce(lambda a, b: a.unionByName(b), parts)
    (
        allp.select(
            "fname",
            "col",
            F.expr("CAST(pos DIV 64 AS INT)").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("fname", "col", "word")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .repartition(1)
        .sortWithinPartitions("col", "word")
        .write.mode("overwrite")
        .parquet(_bloom_sidecar(data_dir))
    )


_HASH_CACHE: dict[str, tuple[int, int]] = {}


def _xxhash64_pair(spark: SparkSession, value: str) -> tuple[int, int]:
    """Spark's ``xxhash64(value)`` and ``xxhash64(value, 1)`` of a
    string, computed BY SPARK (constant-folded 1-row job) so the
    driver-side probes are bit-identical to the build jobs' hashes,
    with no reimplementation to drift.  Bloom probe positions and
    bucket-partition values are derived from these two longs in
    Python — exact, because Python's ``%`` equals Spark's ``pmod`` for
    a positive modulus and the reduced values stay below 2^31.  Cached
    per value: the job is a point lookup's only fixed driver cost, and
    repeated lookups of hot keys skip it entirely."""
    from pyspark.sql import functions as F

    hit = _HASH_CACHE.get(value)
    if hit is None:
        lit = F.lit(value)
        row = spark.range(1).select(
            F.xxhash64(lit), F.xxhash64(lit, F.lit(1))
        ).first()
        hit = (int(row[0]), int(row[1]))
        if len(_HASH_CACHE) > 65536:  # bound driver memory on adversarial use
            _HASH_CACHE.clear()
        _HASH_CACHE[value] = hit
    return hit


def _bloom_positions(
    spark: SparkSession, value: str, bits: int, k: int
) -> list[tuple[int, int]]:
    """(word, bit) probe positions of ``value`` — the same
    ``pmod(r1 + i·r2, bits)`` combination _write_bloom_sidecar builds."""
    h1, h2 = _xxhash64_pair(spark, value)
    r1, r2 = h1 % bits, h2 % bits
    pos = [(r1 + i * r2) % bits for i in range(k)]
    return [(p >> 6, p & 63) for p in pos]


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            man = json.load(f)
        if "schema" in man:
            # a field-id schema log: its files may hold columns under
            # names the log renamed, which a by-name read returns as NULL
            raise ValueError(
                f"table {table!r}'s manifest records a field-id schema "
                "log: not a table this catalog reads"
            )
        return man

    def _commit_manifest(self, table: str, man: dict) -> None:
        """THE manifest commit protocol — one implementation so crash
        behavior can never diverge between write/rollback/expire.

        Optimistic concurrency (≡ Iceberg's metastore CAS): the
        manifest carries a ``version``; a commit holds an exclusive
        ``flock`` on a persistent lockfile (kernel-released on process
        death — no stale-lock breaking, no unlink races), verifies the
        on-disk version still equals the one this commit was BUILT
        against, bumps it, and atomically renames.  A concurrent
        writer that lost the race gets `ConcurrentCommitError` and must
        re-read + rebuild — never a silent lost update.  Local-FS
        scope: multi-HOST coordination needs a metastore/CAS service,
        the same caveat as Iceberg's HadoopCatalog."""
        import fcntl

        path = self._manifest_path(table)
        fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR)
        deadline = time.time() + 10.0
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"could not acquire commit lock for {table!r}"
                        )
                    time.sleep(0.05)
            on_disk = self._load_manifest(table)
            if on_disk.get("version", 0) != man.get("version", 0):
                raise ConcurrentCommitError(
                    f"manifest for {table!r} moved from version "
                    f"{man.get('version', 0)} to "
                    f"{on_disk.get('version', 0)} since this commit was "
                    "built — re-read and retry"
                )
            man["version"] = man.get("version", 0) + 1
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(man, f, indent=1)
            os.replace(tmp, path)
        finally:
            os.close(fd)  # releases the flock

    def commit_with_retry(
        self, fn, retries: int = 5, backoff: float = 0.05
    ):
        """Run a commit operation with optimistic-concurrency retries.

        ``fn`` is a zero-arg callable performing ONE commit against this
        catalog (e.g. ``lambda: cat.write(df, "t", mode="append")`` or a
        ``delete_range`` call).  Every public commit path loads the
        manifest fresh at call time, so re-invoking ``fn`` after a
        ``ConcurrentCommitError`` rebuilds the commit on top of the
        winning writer's snapshot — the standard Iceberg retry loop.
        Exponential backoff decorrelates herds; the last failure is
        re-raised so a persistently-contended table surfaces loudly."""
        for attempt in range(retries + 1):
            try:
                return fn()
            except ConcurrentCommitError:
                if attempt == retries:
                    raise
                time.sleep(backoff * (2**attempt))

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)["snapshots"]

    def current_snapshot(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    # -- the commit path: one definition of each step ------------------

    @staticmethod
    def _next_sid(man: dict) -> int:
        """Snapshot id of the next commit: max + 1 over main AND branch
        snapshots.  max+1, NOT len+1: expire_snapshots truncates the
        front of the list, and len+1 would then collide with (and
        clobber the v-dir of) a surviving snapshot.  Branch snapshots
        share the id space, so ids stay globally monotonic — equality
        delete sequence semantics survive a later publish/cherry-pick,
        and a read or cherry-pick by id names one snapshot."""
        snaps = man["snapshots"] + (man.get("branch_snapshots") or [])
        return max((s["snapshot_id"] for s in snaps), default=0) + 1

    def _new_dir(self, table: str, sid: int) -> str:
        """A fresh dir per commit ATTEMPT: two racing writers both
        compute sid N, but only the manifest CAS decides the winner — a
        shared v{N} dir would let the loser clobber the winner's
        committed data files before its own commit is rejected.
        _dir_sid parses the leading digits, so sequence semantics are
        unaffected; _commit_snap removes the loser's dir."""
        import uuid

        return os.path.join(
            self._tdir(table), f"v{sid}-{uuid.uuid4().hex[:8]}"
        )

    @staticmethod
    def _write_data(
        df: DataFrame,
        data_dir: str,
        order,
        n_files: int | None,
        stat_cols: tuple[str, ...],
        zorder: tuple = (),
        pv=(),
    ) -> list[dict]:
        """Write ``df`` as one commit's parquet files under
        ``data_dir`` and return their manifest entries (footer stats
        on ``stat_cols``, hive partition values when ``pv`` is given).

        ``order`` is the caller's range-partition + sort key (``n_files``
        pins the file count, else AQE sizes it); it may name the
        derived ``_ZORDER_KEY`` — the 2-D z-curve over the ``zorder``
        pair, bucketed uniformly between bounds from ONE tiny agg over
        ``df`` — and the hidden partition columns ``pv``
        (``_partition_cols``), which partitionBy strips from the file
        bytes: the logical schema never changes (≡ Iceberg hidden
        partitioning; users query ts/host, never day/bucket).  The
        z-order key is dropped after the sort, so clustering shows up
        purely in the per-file min/max stats of BOTH zorder columns.
        Without an order, ``n_files`` hash-partitions by the partition
        columns (round-robin when there are none)."""
        from pyspark.sql import functions as F

        out = df
        if zorder:
            from eodal_spark import grid

            za, zb = zorder
            b = df.agg(F.min(za), F.max(za), F.min(zb), F.max(zb)).first()
            out = out.withColumn(
                _ZORDER_KEY,
                grid.zorder_key_2d(
                    F.col(za), F.col(zb),
                    b[0] if b[0] is not None else 0.0,
                    b[1] if b[1] is not None else 1.0,
                    b[2] if b[2] is not None else 0.0,
                    b[3] if b[3] is not None else 1.0,
                    bits=_ZORDER_BITS,
                ),
            )
        for name, col_ in pv:
            out = out.withColumn(name, col_)
        pv_names = [n for n, _ in pv]
        if order:
            parts = (n_files,) if n_files else ()
            out = out.repartitionByRange(*parts, *order).sortWithinPartitions(
                *order
            )
        elif n_files:
            out = out.repartition(n_files, *pv_names)
        if zorder:
            out = out.drop(_ZORDER_KEY)
        writer = out.write.mode("overwrite")
        if pv_names:
            writer = writer.partitionBy(*pv_names)
        # Spark's default INT96 timestamps carry NO parquet min/max
        # stats — a timestamp sort column would silently lose both
        # manifest pruning and row-group skipping.  Catalog data files
        # are written as TIMESTAMP_MICROS (the Iceberg spec type).
        spark = df.sparkSession
        ts_conf = "spark.sql.parquet.outputTimestampType"
        prev_ts = spark.conf.get(ts_conf)
        try:
            spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
            writer.parquet(data_dir)
        finally:
            spark.conf.set(ts_conf, prev_ts)
        dname = os.path.basename(data_dir)
        files = [{**f, "dir": dname} for f in _file_stats(data_dir, stat_cols)]
        if pv_names:
            for f in files:
                f["partition"] = _parse_partition(f["name"])
        return files

    @staticmethod
    def _delete_entries(ddir: str, **fields) -> list[dict]:
        """Manifest entries of the delete files just written under
        ``ddir``, each with its on-disk size — the read-time broadcast
        decision needs it: row count alone ignores key WIDTH (1M
        long-URL keys can be hundreds of MB — too big to
        force-broadcast)."""
        return [
            {
                "dir": os.path.basename(ddir),
                "name": f["name"],
                "rows": f["rows"],
                "bytes": os.path.getsize(os.path.join(ddir, f["name"])),
                **fields,
            }
            for f in _file_stats(ddir, ())
        ]

    @staticmethod
    def _snap_record(
        parent: dict | None,
        sid: int,
        path: str,
        mode: str,
        row_count: int,
        **fields,
    ) -> dict:
        """A new snapshot's manifest record.  It starts from
        ``parent``: the parent's id, merge-on-read delete entries,
        bloom and partition-spec maps, sort order and z-order pair carry
        over (copied, so callers extend them in place); ``fields``
        override any key.  ``zorder`` is left out when neither sets it;
        ``segments`` is filled in by :meth:`_commit_snap`."""
        p = parent or {}
        snap = {
            "snapshot_id": sid,
            "parent_id": p.get("snapshot_id"),
            "committed_at": time.time(),
            "path": path,
            "row_count": row_count,
            "sort_by": list(p.get("sort_by") or ()),
            "zorder": p.get("zorder"),
            "mode": mode,
            "segments": None,
            "delete_files": list(p.get("delete_files") or []),
            "delete_ranges": list(p.get("delete_ranges") or []),
            "pos_delete_files": list(p.get("pos_delete_files") or []),
            "blooms": dict(p.get("blooms") or {}),
            "partition_specs": dict(p.get("partition_specs") or {}),
            "meta": {},
        }
        snap.update(fields)
        if snap["zorder"] is None:
            del snap["zorder"]
        return snap

    def _commit_snap(
        self,
        table: str,
        man: dict,
        snap: dict,
        files: list[dict],
        new_dirs=(),
        branch: str | None = None,
    ) -> dict:
        """Commit ``snap`` with file list ``files``: seal the list into
        manifest segments, append the record to main (or to
        ``branch``, moving its head) and CAS the manifest.  A commit
        that loses the CAS leaves nothing behind: the attempt's
        ``new_dirs`` (with their bloom sidecars) and the segments it
        sealed are removed — reused segments of older commits stay,
        they are live via the winning history — and the
        ``ConcurrentCommitError`` is re-raised."""
        sid = snap["snapshot_id"]
        snap["segments"] = self._seal_files(table, sid, files)
        if branch is None:
            man["snapshots"].append(snap)
        else:
            man.setdefault("branch_snapshots", []).append(snap)
            man["branches"][branch]["head"] = sid
        try:
            self._commit_manifest(table, man)
        except ConcurrentCommitError:
            self._remove_dirs(new_dirs)
            self._unlink_segments(
                table,
                [
                    r["name"]
                    for r in snap["segments"]
                    if r["name"].startswith(f"seg-{sid:08d}-")
                ],
            )
            raise
        return snap

    @staticmethod
    def _remove_dirs(paths) -> None:
        """rmtree each dir and its bloom sidecar."""
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(_bloom_sidecar(p), ignore_errors=True)

    def _unlink_segments(self, table: str, names) -> None:
        segdir = self._seg_dir(self._tdir(table))
        for name in names:
            p = os.path.join(segdir, name)
            _SEG_CACHE.pop(p, None)
            try:
                os.unlink(p)
            except OSError:
                pass

    def _live_dirs(self, snaps: list[dict]) -> set[str]:
        """Dirs ``snaps`` reference: their own v-dirs, the data dirs of
        their files and the dirs of their delete files."""
        out: set[str] = set()
        for s in snaps:
            out.add(os.path.basename(s["path"]))
            out |= self._snap_dirs(s)
            out |= {
                d["dir"]
                for d in (s.get("delete_files") or [])
                + (s.get("pos_delete_files") or [])
            }
        return out

    def write(
        self,
        df: DataFrame,
        table: str,
        sort_by: tuple[str, ...] = (),
        meta: dict | None = None,
        n_files: int | None = None,
        mode: str = "overwrite",
        bloom_cols: tuple[str, ...] = (),
        zorder: tuple[str, str] | tuple = (),
        partition_by: list | None = None,
        branch: str | None = None,
    ) -> dict:
        """Commit a new snapshot.

        ``branch`` targets a named branch created with
        :meth:`create_branch` instead of main (≡ Iceberg branch writes
        / the WAP staging step): the commit's parent is the branch
        head, main is untouched, and readers only see the rows after
        :meth:`publish_branch` fast-forwards them onto main.

        ``mode="overwrite"`` — the snapshot is exactly ``df``.
        ``mode="append"``    — the snapshot is the parent's data files
        PLUS ``df`` written as new files: the parent's bytes are never
        rewritten or copied, only re-referenced in the manifest — the
        Iceberg append-commit contract that makes incremental ingestion
        of a 100 TB table affordable (commit cost is O(new data), not
        O(table)).

        Sorted write (range-partitioned by the sort key) gives min/max
        pruning on those columns; ``n_files`` pins the NEW file count
        (else AQE sizes it), which also sets the granularity of
        manifest-level pruning in :meth:`scan`.

        Each snapshot records its FULL file list (cumulative under
        appends), so reads resolve in one manifest load with no parent
        walking; the manifest therefore grows with history and is kept
        bounded by the same maintenance Iceberg uses — :meth:`compact`
        collapses the list, :meth:`expire_snapshots` drops old entries.
        """
        return self._write(
            self._load_manifest(table), df, table, sort_by, meta, n_files,
            mode, bloom_cols, _BLOOM_BITS, _BLOOM_K, zorder, partition_by,
            branch,
        )

    def _write(
        self, man, df, table, sort_by, meta, n_files, mode, bloom_cols,
        bloom_bits, bloom_k, zorder, partition_by, branch,
    ) -> dict:
        """:meth:`write` built against the loaded manifest ``man``: the
        commit's parent is ``man``'s head, so a commit that landed since
        ``man`` was loaded fails the CAS with `ConcurrentCommitError`."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unknown write mode {mode!r}")
        if zorder and sort_by:
            raise ValueError(
                "pass sort_by OR zorder — one clustering layout per "
                "snapshot"
            )
        if zorder and len(zorder) != 2:
            raise ValueError(
                "zorder takes exactly two numeric columns (the 2-D "
                "z-curve; chain more dims via cell encoding)"
            )
        partition_by = list(partition_by or [])
        pv = _partition_cols(partition_by)  # validates the spec
        if branch is not None:
            parent_snap = self._resolve(table, man, branch=branch)
        else:
            parent_snap = man["snapshots"][-1] if man["snapshots"] else None
        sid = self._next_sid(man)
        data_dir = self._new_dir(table, sid)
        dname = os.path.basename(data_dir)
        files = self._write_data(
            df,
            data_dir,
            [_ZORDER_KEY] if zorder else sort_by,
            n_files,
            tuple(sort_by or zorder),
            zorder,
            pv,
        )
        if bloom_cols:
            # ONE extra job over the NEW files only — O(new data), like
            # the footer stats; appends never re-bloom the parent's dirs
            _write_bloom_sidecar(
                df.sparkSession, data_dir, tuple(bloom_cols), bloom_bits,
                bloom_k,
            )
        append = mode == "append" and parent_snap is not None
        snap = self._snap_record(
            parent_snap if append else None,
            sid,
            data_dir,
            mode,
            # row count from the same footer reads that produced the
            # stats — no second Spark job per commit
            sum(f["rows"] for f in files),
            parent_id=(parent_snap or {}).get("snapshot_id"),
            sort_by=list(sort_by),
            zorder=list(zorder),
            meta=meta or {},
        )
        if append:
            files = self._snap_files(parent_snap) + files
            snap["row_count"] += parent_snap["row_count"]
        if bloom_cols:
            snap["blooms"][dname] = {
                "cols": list(bloom_cols),
                "bits": int(bloom_bits),
                "k": int(bloom_k),
            }
        if pv:
            # spec recorded PER DIR: partition EVOLUTION is just a later
            # write with a different spec — old dirs keep theirs, scan
            # consults each file's own dir spec (≡ Iceberg spec-id)
            snap["partition_specs"][dname] = [list(e) for e in partition_by]
        return self._commit_snap(table, man, snap, files, [data_dir], branch)

    # -- segmented manifests (≡ Iceberg manifest-list + manifests) -------
    #
    # The root manifest.json holds snapshots/refs/branches; each
    # snapshot's FILE ENTRIES live in immutable per-commit SEGMENT files
    # under <table>/manifests/.  A snapshot references segments by name
    # plus coarse per-segment stats (rows, dirs, column bounds), so:
    #   * a commit appends O(new files) manifest bytes — reused parent
    #     segments are re-referenced, never rewritten (at 100 TB / 100k
    #     files the old single-JSON design serialized the whole file
    #     list per commit and parsed it per query — the last O(table)
    #     driver cost in the engine);
    #   * scan() prunes whole SEGMENTS from the ref bounds before
    #     loading any entry — manifest-level skipping above the
    #     file-level skipping (Iceberg's manifest-list partition
    #     summaries).
    # Segments are immutable → cached per path.

    @staticmethod
    def _seg_dir(tdir: str) -> str:
        return os.path.join(tdir, "manifests")

    def _load_segment(self, tdir: str, name: str) -> list[dict]:
        path = os.path.join(self._seg_dir(tdir), name)
        cached = _SEG_CACHE.get(path)
        if cached is None:
            with open(path) as f:
                cached = json.load(f)
            if len(_SEG_CACHE) > 4096:  # bound driver memory
                _SEG_CACHE.clear()
            _SEG_CACHE[path] = cached
        return cached

    @staticmethod
    def _seg_ref(name: str, entries: list[dict]) -> dict:
        """Segment reference for the root manifest: name + the coarse
        stats segment-level pruning and dir liveness need WITHOUT
        loading the segment.  A column's bounds are recorded only when
        every entry has same-typed min/max stats for it (else pruning
        on that column must fall through to the file level —
        conservative, like Iceberg's null-stats manifests)."""
        bounds: dict[str, list] = {}
        cols: set[str] = set()
        for e in entries:
            cols |= set((e.get("stats") or {}).keys())
        for c in cols:
            mins, maxs = [], []
            for e in entries:
                st = (e.get("stats") or {}).get(c)
                if st is None or st["min"] is None or st["max"] is None:
                    mins = []
                    break
                mins.append(st["min"])
                maxs.append(st["max"])
            if not mins:
                continue
            if len({isinstance(v, str) for v in mins + maxs}) > 1:
                continue  # mixed-type stats: not comparable segment-wide
            bounds[c] = [min(mins), max(maxs)]
        return {
            "name": name,
            "n_files": len(entries),
            "rows": sum(int(e.get("rows") or 0) for e in entries),
            "dirs": sorted({e["dir"] for e in entries}),
            "bounds": bounds,
        }

    @staticmethod
    def _seg_ref_excluded(ref: dict, norm: dict) -> bool:
        """True iff the segment's coarse bounds PROVABLY exclude every
        normalized range on some predicate column — the same interval
        arithmetic as the per-file pass (string/iso coercions included);
        any doubt (missing bounds, type mismatch) keeps the segment and
        defers to the file level."""
        bounds = ref.get("bounds") or {}
        for col, rs in norm.items():
            b = bounds.get(col)
            # a type mismatch keeps the segment: the file pass raises
            hit = _range_hit(b[0], b[1], rs) if b is not None else None
            if hit is not None and not hit[0]:
                return True
        return False

    def _seal_files(self, table: str, sid: int, files: list[dict]) -> list[dict]:
        """Turn a new snapshot's resolved file-entry list into segment
        refs.  Entries still carrying their source segment tag (set by
        :meth:`_snap_files`) re-reference that segment VERBATIM when the
        whole segment survives; everything else — brand-new files, or
        survivors of a partially-deleted segment — is written as ONE new
        segment named for this commit.  Commit cost in manifest bytes is
        therefore O(new + rewritten entries), never O(table)."""
        tdir = self._tdir(table)
        groups: dict = {}
        for f in files:
            groups.setdefault(f.get("_seg"), []).append(f)
        refs: list[dict] = []
        leftover: list[dict] = []
        for name, entries in groups.items():
            if name is None:
                leftover.extend(entries)
                continue
            seg_full = self._load_segment(tdir, name)
            same = len(entries) == len(seg_full) and {
                (e["dir"], e["name"]) for e in entries
            } == {(s["dir"], s["name"]) for s in seg_full}
            if same:
                refs.append(self._seg_ref(name, seg_full))
            else:
                leftover.extend(entries)
        if leftover:
            import uuid

            segdir = self._seg_dir(tdir)
            os.makedirs(segdir, exist_ok=True)
            newname = f"seg-{sid:08d}-{uuid.uuid4().hex[:8]}.json"
            clean = [
                {k: v for k, v in e.items() if k != "_seg"} for e in leftover
            ]
            tmp = os.path.join(segdir, newname + ".tmp")
            with open(tmp, "w") as f:
                json.dump(clean, f)
            os.replace(tmp, os.path.join(segdir, newname))
            _SEG_CACHE[os.path.join(segdir, newname)] = clean
            refs.append(self._seg_ref(newname, clean))
        return refs

    @staticmethod
    def _segments(snap: dict) -> list[dict]:
        segs = snap.get("segments")
        if segs is None:
            raise ValueError(
                f"snapshot {snap['snapshot_id']} records no manifest "
                f"segments: not a snapshot this catalog wrote"
            )
        return segs

    def _snap_dirs(self, snap: dict) -> set[str]:
        """Data dirs a snapshot's files live in, from its segment refs
        (no segment load)."""
        return {d for r in self._segments(snap) for d in r.get("dirs") or ()}

    def _live_segments(self, snaps: list[dict]) -> set[str]:
        return {
            r["name"] for s in snaps for r in (s.get("segments") or [])
        }

    def _snap_files(self, snap: dict, norm: dict | None = None) -> list[dict]:
        """File entries of a snapshot, each tagged ``_seg`` with its
        source segment so :meth:`_seal_files` can re-reference intact
        segments on the next commit.  With normalized ranges ``norm``,
        segments whose coarse bounds provably exclude them are skipped
        without being loaded."""
        tdir = os.path.dirname(snap["path"])
        return [
            {**f, "_seg": ref["name"]}
            for ref in self._segments(snap)
            if norm is None or not self._seg_ref_excluded(ref, norm)
            for f in self._load_segment(tdir, ref["name"])
        ]

    def _resolve(
        self,
        table: str,
        man: dict,
        snapshot_id: int | None = None,
        as_of=None,
        tag: str | None = None,
        branch: str | None = None,
        main_only: bool = False,
    ) -> dict:
        """The snapshot a call names, resolved in the ALREADY-LOADED
        manifest ``man`` — callers load once and resolve, and read
        files from that one view (a second load would be a TOCTOU
        against concurrent expiry/rollback).  Default:
        main's head.  ``as_of`` (epoch seconds or datetime) is the
        newest main snapshot committed at or before it (≡ Iceberg
        ``TIMESTAMP AS OF``; snapshots predating ``committed_at`` sort
        oldest); ``tag`` and ``branch`` name the ref's snapshot; an
        explicit id also finds branch snapshots (ids are one space
        over main and branches) unless ``main_only``."""
        if sum(x is not None for x in (snapshot_id, as_of, tag, branch)) > 1:
            raise ValueError(
                "pass only one of snapshot_id / as_of / tag / branch"
            )
        snaps = man["snapshots"]
        if as_of is not None:
            ts = as_of.timestamp() if hasattr(as_of, "timestamp") else as_of
            eligible = [s for s in snaps if s.get("committed_at", 0.0) <= ts]
            if not eligible:
                raise KeyError(
                    f"no snapshot of {table!r} committed at or before {ts}"
                )
            return eligible[-1]
        if tag is not None:
            snapshot_id = (man.get("refs") or {}).get(tag)
            if snapshot_id is None:
                raise KeyError(f"no tag {tag!r} on table {table!r}")
        if branch is not None:
            b = (man.get("branches") or {}).get(branch)
            if b is None:
                raise KeyError(
                    f"no branch {branch!r} on table {table!r} — "
                    "create_branch() first"
                )
            snapshot_id = b["head"]
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        if snapshot_id is None:
            return snaps[-1]
        if not main_only:
            snaps = snaps + (man.get("branch_snapshots") or [])
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s
        if branch is not None:
            raise RuntimeError(
                f"branch {branch!r} on table {table!r} points at "
                f"snapshot {snapshot_id} which no longer exists — the "
                "ref is corrupted (expired past a branch head?); "
                "drop_branch() and re-stage"
            )
        raise KeyError(f"no snapshot {snapshot_id} for table {table}")

    def _read(
        self,
        spark: SparkSession,
        table: str,
        snap: dict,
        files: list[dict],
        with_pos_meta: bool = False,
    ) -> DataFrame:
        """THE file reader: ``files`` (entries of ``snap``) under the
        SNAPSHOT's schema, so the result's columns never depend on
        which of its files a caller reads; with no files, the
        snapshot's schema-correct empty relation (the optimizer folds
        it to an empty LocalRelation — no scan).

        The schema is the footers'.  A single-dir snapshot is one
        write, one physical schema.  A multi-dir one (append chains)
        takes the merge of ONE footer per dir: an appended batch may
        carry new columns, and older files surface them as NULL —
        Iceberg's add-column semantics.  The probes come from the dirs,
        not the manifest entries, so a pruned scan still loads only the
        segments its predicate touches.

        ``with_pos_meta=True`` additionally materializes ``_dfile``
        (dir/name) and ``_pos`` (``_metadata.row_index``) — the row
        identity the position-delete tier anti-joins on; they must be
        captured at the scan (``_metadata`` is only resolvable there),
        which is why the reader owns them."""
        from pyspark.sql import functions as F

        tdir = self._tdir(table)
        dirs = sorted(self._snap_dirs(snap))
        if len(dirs) > 1 or not files:
            probes = [_dir_probe(os.path.join(tdir, d)) for d in dirs]
        paths = [
            os.path.join(tdir, f["dir"], f["name"]) for f in files
        ] or probes
        reader = spark.read
        if len(dirs) > 1:
            reader = reader.schema(
                spark.read.option("mergeSchema", "true").parquet(*probes).schema
            )
        out = reader.parquet(*paths)
        if with_pos_meta:
            out = out.select(
                "*",
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
                ).alias("_dfile"),
                F.col("_metadata.row_index").alias("_pos"),
            )
        return out if files else out.where(F.lit(False))

    def delete_keys(
        self,
        spark: SparkSession,
        table: str,
        keys: DataFrame,
    ) -> dict:
        """Commit an EQUALITY-DELETE snapshot (≡ Iceberg v2 equality
        deletes, merge-on-read): rows whose ``keys.columns`` tuple
        matches any key row disappear from subsequent reads WITHOUT
        rewriting a byte of data — the curation/GDPR primitive a
        training corpus needs ("purge these urls") at 100 TB, where an
        overwrite commit would cost a full-table rewrite.

        Sequence semantics match Iceberg: a delete applies only to data
        files committed AT OR BEFORE it — a key re-ingested by a LATER
        append reappears (re-crawled url after a purge).  Commit cost is
        O(|keys|); the read path anti-joins the keys (broadcast when
        small).  :meth:`compact` applies deletes physically and drops
        the delete files; :meth:`read_changes` across a delete raises
        (no file-level delta exists).  ``row_count`` on delete/append
        snapshots is the pre-delete upper bound (exact counts need a
        scan — same contract as Iceberg).
        """
        man = self._load_manifest(table)
        parent = self._resolve(table, man)
        parent_files = self._snap_files(parent)
        key_cols = list(keys.columns)
        self._check_delete_key(table, parent, key_cols, "delete")
        sid = self._next_sid(man)
        ddir = self._new_dir(table, sid)
        keys.select(*key_cols).distinct().repartition(1).write.mode(
            "overwrite"
        ).parquet(ddir)
        snap = self._snap_record(
            parent, sid, ddir, "delete", parent["row_count"]
        )
        snap["delete_files"] += self._delete_entries(
            ddir, key_cols=key_cols, sid=sid
        )
        return self._commit_snap(table, man, snap, parent_files, [ddir])

    def _check_delete_key(
        self, table: str, parent: dict, key_cols: list[str], op: str
    ) -> None:
        """Validate an equality-delete key before anything is written:
        it must equal the key of every delete already in force (mixed
        keys are not supported), and every column must exist in the
        snapshot's data — a mistyped key column would commit fine and
        then break every read until rollback.  The live columns are the
        union of one footer per data dir (an append may add a column;
        driver-side footer reads, no Spark job)."""
        import pyarrow.parquet as pq

        for d in parent.get("delete_files") or []:
            if d["key_cols"] != key_cols:
                raise ValueError(
                    f"table {table!r} already has equality deletes on "
                    f"{d['key_cols']} — mixed delete keys are not "
                    "supported; compact() first"
                )
        tdir = self._tdir(table)
        live = {
            c
            for d in self._snap_dirs(parent)
            for c in pq.read_schema(_dir_probe(os.path.join(tdir, d))).names
        }
        missing = [c for c in key_cols if c not in live]
        if missing:
            raise ValueError(
                f"{op} key column(s) {missing} not in table "
                f"{table!r}'s data schema {sorted(live)}"
            )

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        table: str,
        key_cols: tuple[str, ...] | list[str],
        n_files: int | None = None,
        meta: dict | None = None,
    ) -> dict:
        """MERGE INTO, merge-on-read, ONE atomic commit (≡ Iceberg
        ``MERGE`` compiled to equality deletes + appended data files):
        rows of ``df`` REPLACE existing rows with matching ``key_cols``
        tuples and insert otherwise — the re-crawl primitive ("this
        url's page changed") a training corpus needs at 100 TB, where
        copy-on-write MERGE would rewrite every touched file.

        Commit cost is O(|df|): ``df`` is written as new data files and
        its distinct key tuples as an equality-delete file whose
        sequence number is the PARENT snapshot's — it suppresses
        matching rows in all pre-existing data files but not in the
        upsert's own (or any later) files, which is exactly MERGE
        semantics under the catalog's existing sequence rules.  Either
        the whole merge is visible or none of it (single manifest CAS);
        a two-commit delete_keys+append would expose a window where the
        old rows are gone and the new ones not yet there.  ``df`` rows
        are appended verbatim — de-duplicate on the key upstream if it
        may carry several versions of one key.  :meth:`compact` applies
        the merge physically; :meth:`read_changes` across an upsert
        raises (replaced rows are not a file-level delta)."""
        key_cols = list(key_cols)
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"upsert key column(s) {missing} not in the DataFrame "
                f"columns {df.columns}"
            )
        man = self._load_manifest(table)
        if not man["snapshots"]:
            # MERGE into an empty target is pure insert
            return self.write(
                df, table, meta=meta, n_files=n_files, mode="overwrite"
            )
        parent = man["snapshots"][-1]
        parent_files = self._snap_files(parent)
        self._check_delete_key(table, parent, key_cols, "upsert")
        sid = self._next_sid(man)
        data_dir = self._new_dir(table, sid)
        kdir = self._new_dir(table, sid)
        sort_by = tuple(parent.get("sort_by") or ())
        zorder = tuple(parent.get("zorder") or ())
        if not all(c in df.columns for c in zorder):
            zorder = ()
        new_files = self._write_data(
            df,
            data_dir,
            [_ZORDER_KEY] if zorder
            else sort_by if all(c in df.columns for c in sort_by) else (),
            n_files,
            sort_by or zorder,
            zorder,
        )
        self._write_data(df.select(*key_cols).distinct(), kdir, (), 1, ())
        snap = self._snap_record(
            parent,
            sid,
            data_dir,
            "upsert",
            parent["row_count"] + sum(f["rows"] for f in new_files),
            meta=meta or {},
        )
        snap["delete_files"] += self._delete_entries(
            kdir,
            key_cols=key_cols,
            # PARENT's sequence number: the delete applies to every
            # file committed at or before the parent, never to this
            # commit's own data files (dir sid > parent sid)
            sid=parent["snapshot_id"],
        )
        return self._commit_snap(
            table, man, snap, parent_files + new_files, [data_dir, kdir]
        )

    def delete_range(
        self,
        table: str,
        col: str,
        ranges,
    ) -> dict:
        """Commit a METADATA range delete (≡ Iceberg's metadata delete /
        partition-level drop): rows with ``col`` in any inclusive
        ``(lo, hi)`` range disappear from subsequent reads — the
        region/time purge primitive ("drop everything in this bbox /
        before this date").  Commit cost is O(manifest): NO data is
        read or written; data files whose manifest stats lie entirely
        inside a deleted range are dropped from the snapshot outright,
        partially-covered files get a residual NOT-in-ranges filter at
        read.  Same sequence semantics as :meth:`delete_keys` (later
        appends into the range reappear); :meth:`compact` applies
        physically."""
        ranges = ranges if isinstance(ranges, list) else [ranges]
        if not ranges:
            raise ValueError("empty range list")
        # coerce bounds into the manifest value space up front: the
        # stored ranges must be JSON-serializable (datetime/bytes
        # bounds otherwise crash the commit) and compare consistently
        # with the stats AND the read-time residual (Spark casts ISO
        # strings back to timestamps)
        ranges = [(_stat_bound(lo), _stat_bound(hi)) for lo, hi in ranges]
        for lo, hi in ranges:
            try:
                inverted = lo > hi
            except TypeError:
                inverted = False
            if inverted:
                raise ValueError(
                    f"inverted range ({lo!r}, {hi!r}) — a silent no-op "
                    "purge; pass (lo, hi) with lo <= hi"
                )
        man = self._load_manifest(table)
        parent = self._resolve(table, man)
        parent_files = self._snap_files(parent)
        sid = self._next_sid(man)

        def fully_deleted(f: dict) -> bool:
            # dropping a file here is IRREVERSIBLE after expire/compact,
            # so any doubt — no stats, a bound of another type,
            # incomparable values — KEEPS the file (the read-time
            # residual filter, which compares in the column's real
            # type, still removes the in-range rows)
            stats = f.get("stats") or {}
            st = stats.get(col)
            if not st or st["min"] is None or st["max"] is None:
                return False
            try:
                hit = _range_hit(st["min"], st["max"], ranges)
            except TypeError:
                return False
            return hit is not None and hit[1]

        kept, dropped_rows = [], 0
        for f in parent_files:
            if fully_deleted(f):
                dropped_rows += int(f.get("rows") or 0)
            else:
                kept.append(f)
        if not kept and parent_files:
            # full-table purge: keep the smallest covered file as a
            # SCHEMA ANCHOR.  A files==[] snapshot has no file to take
            # the schema from, so read()/scan() could not build even an
            # empty relation and append would have nothing to merge
            # with.  The anchor's rows are still removed by the
            # read-time residual filter (its dir sid < this delete's
            # sid), so reads return a schema-correct EMPTY relation;
            # row_count stays 0.
            anchor = min(parent_files, key=lambda f: int(f.get("rows") or 0))
            kept = [anchor]
        snap = self._snap_record(
            parent,
            sid,
            # metadata-only commit: the v-dir is named but NEVER created
            # (rollback/expire rmtree it harmlessly; pointing at the
            # table dir instead would let rollback delete the table)
            os.path.join(self._tdir(table), f"v{sid}-meta"),
            "delete",
            parent["row_count"] - dropped_rows,
            meta={"dropped_files": len(parent_files) - len(kept)},
        )
        snap["delete_ranges"].append(
            {"col": col, "ranges": ranges, "sid": sid}
        )
        return self._commit_snap(table, man, snap, kept)

    def delete_where(
        self,
        spark: SparkSession,
        table: str,
        predicate,
    ) -> dict:
        """``DELETE WHERE <predicate>`` compiled to POSITION-DELETE
        files (≡ Iceberg v2 position deletes) — the third delete tier:
        equality deletes need a key, metadata range deletes need
        manifest stats on the column; an arbitrary predicate
        ("text LIKE '%spam%'") needs neither.  One scan of the current
        snapshot's data files records the (file, row-ordinal) pairs of
        matching rows (``_metadata.row_index`` — stable physical
        positions); commit cost is O(matches) bytes, no data rewritten.
        Reads anti-join the positions (broadcast when small) with the
        same sequence semantics as the other delete kinds: later
        appends are untouched (a position can only name a file that
        existed at commit).  :meth:`compact` applies physically.

        Positions are computed over the RAW referenced files — rows
        already hidden by earlier deletes may be recorded again, which
        is harmless (they are already invisible) and keeps the commit a
        single scan."""
        from pyspark.sql import functions as F

        man = self._load_manifest(table)
        parent = self._resolve(table, man)
        parent_files = self._snap_files(parent)
        sid = self._next_sid(man)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # positions are captured at the scan by the reader
        positions = (
            self._read(spark, table, parent, parent_files, with_pos_meta=True)
            .filter(pred)
            .select(
                F.col("_dfile").alias("dfile"),
                F.col("_pos").alias("pos"),
            )
        )
        ddir = self._new_dir(table, sid)
        positions.repartition(1).write.mode("overwrite").parquet(ddir)
        snap = self._snap_record(
            parent, sid, ddir, "delete", parent["row_count"]
        )
        snap["pos_delete_files"] += self._delete_entries(ddir, sid=sid)
        return self._commit_snap(table, man, snap, parent_files, [ddir])

    @staticmethod
    def _dir_sid(d: str) -> int:
        """Commit sequence of a data dir ('v12-ab34cd56' / 'v12-meta' →
        12)."""
        return int(d[1:].split("-", 1)[0])

    def _read_with_deletes(
        self,
        spark: SparkSession,
        table: str,
        snap: dict,
        files: list[dict] | None = None,
    ) -> DataFrame:
        """Read ``files`` (default: all of ``snap``'s) applying the
        snapshot's equality-delete files, position-delete files AND
        metadata range deletes with Iceberg sequence semantics: a
        delete at commit D removes matching rows only from data files
        committed at sid ≤ D.  Data files are segmented at the delete
        commit boundaries; each segment anti-joins the union of the
        key and position deletes that apply to it (broadcast when
        small) and filters NOT-in-ranges for the applicable range
        deletes."""
        from pyspark.sql import functions as F

        from eodal_spark import grid

        if files is None:
            files = self._snap_files(snap)
        dels = snap.get("delete_files") or []
        rdels = snap.get("delete_ranges") or []
        pdels = snap.get("pos_delete_files") or []
        if (not dels and not rdels and not pdels) or not files:
            return self._read(spark, table, snap, files)
        tdir = self._tdir(table)
        key_cols = dels[0]["key_cols"] if dels else []
        del_sids = sorted(
            {d["sid"] for d in dels}
            | {r["sid"] for r in rdels}
            | {p["sid"] for p in pdels}
        )

        def range_pred_from(min_sid: int):
            # NULL-valued rows are in NO range: keep them (a bare
            # ~BETWEEN evaluates to NULL and filter() would silently
            # drop them — inconsistent with the key-delete anti-join,
            # which preserves NULL keys)
            conds = [
                F.col(r["col"]).isNull()
                | ~grid.ranges_predicate(
                    r["col"], [tuple(x) for x in r["ranges"]]
                )
                for r in rdels
                if r["sid"] >= min_sid
            ]
            out = None
            for c in conds:
                out = c if out is None else (out & c)
            return out

        def tagged(parts) -> DataFrame | None:
            # one base relation over a delete tier's files, each part
            # (paths, sid, columns) tagged with its sequence sid — each
            # segment filters its applicable suffix from it, so stacked
            # deletes don't re-scan older delete files once per segment
            # (cached when more than one part will be consumed)
            base = None
            for paths, sid, cols in parts:
                part = (
                    spark.read.parquet(*paths)
                    .select(*cols)
                    .withColumn("_del_sid", F.lit(sid))
                )
                base = part if base is None else base.unionByName(part)
            if base is not None and len(parts) > 1:
                base = base.cache()
            return base

        # key deletes grouped by sequence sid: an upsert's entry carries
        # its PARENT's sequence number, so it shares a part with a
        # delete_keys committed at that parent
        by_sid: dict[int, list[str]] = {}
        for d in dels:
            if sorted(d["key_cols"]) != sorted(key_cols):
                raise ValueError(
                    f"equality deletes at snapshot {d['sid']} use key "
                    f"{d['key_cols']}, others use {key_cols} — mixed "
                    "delete keys are not supported; compact() first"
                )
            by_sid.setdefault(d["sid"], []).append(
                os.path.join(tdir, d["dir"], d["name"])
            )
        base_keys = tagged([(ps, sid, key_cols) for sid, ps in by_sid.items()])
        # position deletes (≡ Iceberg v2 position delete files): (dfile,
        # pos) rows, filtered per segment like the key deletes.
        # Positions can only reference files that existed at the
        # delete's commit, so the per-segment filter is an efficiency
        # (skip provably-empty joins), not a correctness requirement.
        pos_base = tagged(
            [
                (
                    [os.path.join(tdir, p["dir"], p["name"])],
                    p["sid"],
                    ["dfile", "pos"],
                )
                for p in pdels
            ]
        )

        def applicable(base, entries, cols, min_sid) -> DataFrame | None:
            # the deletes of ``entries`` committed at or after
            # ``min_sid`` as one distinct relation; None when none
            # applies (base empty, or the boundary comes from a newer
            # delete of another tier) — skip the provably-empty
            # anti-join.  Force-broadcast only when the set is provably
            # small by BYTES (parquet-compressed footprint × a
            # decompression fudge), not by row count alone — 1M wide
            # string keys can be a several-hundred-MB broadcast that
            # would override Spark's size-based threshold and OOM the
            # driver.  Entries without a recorded size (pre-upgrade,
            # foreign/migrated manifests) must NOT default to "tiny":
            # they get a conservative row cap; above the gates, Spark's
            # own autoBroadcastJoinThreshold decides.
            live = [d for d in entries if d["sid"] >= min_sid]
            if base is None or not live:
                return None
            k = (
                base.filter(F.col("_del_sid") >= min_sid)
                .select(*cols)
                .distinct()
            )
            if all("bytes" in d for d in live):
                small = sum(d["bytes"] for d in live) <= 32 << 20
            else:
                small = sum(d["rows"] for d in live) <= 100_000
            return F.broadcast(k) if small else k

        # segment boundaries: files with sid in (prev_del, del] share
        # the same applicable-delete suffix {del, ...}
        out: DataFrame | None = None
        bounds = [0] + del_sids
        for i in range(1, len(bounds) + 1):
            lo = bounds[i - 1]
            hi = bounds[i] if i < len(bounds) else None
            seg = sorted(
                (
                    f
                    for f in files
                    if self._dir_sid(f["dir"]) > lo
                    and (hi is None or self._dir_sid(f["dir"]) <= hi)
                ),
                key=lambda f: os.path.join(f["dir"], f["name"]),
            )
            if not seg:
                continue
            pk = (
                applicable(pos_base, pdels, ["dfile", "pos"], hi)
                if hi is not None
                else None
            )
            df = self._read(
                spark, table, snap, seg, with_pos_meta=pk is not None
            )
            if hi is not None:
                if pk is not None:
                    # row identity = ("dir/name", row ordinal in file) —
                    # the reader materialized _dfile/_pos at the scan
                    # (stable physical positions the delete file
                    # recorded at commit time)
                    data_cols = [
                        c for c in df.columns if c not in ("_dfile", "_pos")
                    ]
                    df = (
                        df.withColumnRenamed("_dfile", "dfile")
                        .withColumnRenamed("_pos", "pos")
                        .join(pk, ["dfile", "pos"], "left_anti")
                        .select(*data_cols)
                    )
                keys = applicable(base_keys, dels, key_cols, hi)
                if keys is not None:
                    df = df.join(keys, key_cols, "left_anti")
                rp = range_pred_from(hi)
                if rp is not None:
                    df = df.filter(rp)
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        assert out is not None
        return out

    def snapshot_as_of(self, table: str, ts) -> dict:
        """Newest snapshot committed at or before ``ts`` (epoch seconds
        or datetime) — ≡ Iceberg ``TIMESTAMP AS OF`` resolution.
        Snapshots predating the ``committed_at`` field sort oldest."""
        return self._resolve(table, self._load_manifest(table), as_of=ts)

    def read(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: int | None = None,
        as_of=None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Time-travel read — ≡ Iceberg ``VERSION AS OF`` by snapshot
        id (main or branch snapshot), ``TIMESTAMP AS OF`` via
        ``as_of``, a named ref via ``tag``, or a branch head via
        ``branch`` — the WAP audit read (equality deletes applied
        merge-on-read, see :meth:`delete_keys`)."""
        man = self._load_manifest(table)
        snap = self._resolve(table, man, snapshot_id, as_of, tag, branch)
        return self._read_with_deletes(spark, table, snap)

    def read_changes(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Incremental consumption — the rows ADDED after
        ``from_snapshot`` up to ``to_snapshot`` (default: current), read
        from exactly the data files the later snapshot references that
        the earlier one does not (≡ Iceberg incremental scan), under
        the later snapshot's schema.  Only append commits have
        well-defined change semantics: an overwrite or delete between
        the two (on the later one's parent chain) raises, as the delta
        is not expressible as a file difference, and so does a
        ``from_snapshot`` that is not an ancestor of ``to_snapshot``."""
        man = self._load_manifest(table)
        lo = self._resolve(table, man, from_snapshot)
        hi = self._resolve(table, man, to_snapshot)
        if lo["snapshot_id"] > hi["snapshot_id"]:
            # an inverted range would also sail past the overwrite check
            # below and return the old snapshot's whole content as a
            # "delta"
            raise ValueError(
                f"from_snapshot {lo['snapshot_id']} is newer than "
                f"to_snapshot {hi['snapshot_id']}"
            )
        by_id = {
            s["snapshot_id"]: s
            for s in man["snapshots"] + (man.get("branch_snapshots") or [])
        }
        s = hi
        while s is not None and s["snapshot_id"] > lo["snapshot_id"]:
            if s.get("mode", "overwrite") != "append":
                raise ValueError(
                    f"snapshot {s['snapshot_id']} is a "
                    f"{s.get('mode', 'overwrite')} commit — the range "
                    "holds no file-level delta; read it directly"
                )
            s = by_id.get(s.get("parent_id"))
        # (a parent expired out of the manifest ends the walk unchecked)
        if s is not None and s is not lo:
            raise ValueError(
                f"snapshot {lo['snapshot_id']} is not an ancestor of "
                f"snapshot {hi['snapshot_id']} — no file-level delta"
            )
        seen = {(f["dir"], f["name"]) for f in self._snap_files(lo)}
        new = [
            f
            for f in self._snap_files(hi)
            if (f["dir"], f["name"]) not in seen
        ]
        return self._read(spark, table, hi, new)

    def count(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: int | None = None,
        ranges: dict | None = None,
        eq: dict | None = None,
    ) -> int:
        """COUNT(*) with a manifest fast path (≡ Iceberg metadata
        aggregate pushdown): a snapshot with no merge-on-read deletes
        answers from its recorded ``row_count`` — ZERO data I/O, O(1)
        on a 100 TB table.  Any delete tier in play (equality /
        position deletes, or range deletes whose residuals the
        row_count cannot see) or any predicate falls back to the exact
        pruned-scan count."""
        man = self._load_manifest(table)
        snap = self._resolve(table, man, snapshot_id)
        mor = (
            (snap.get("delete_files") or [])
            or (snap.get("pos_delete_files") or [])
            or (snap.get("delete_ranges") or [])
        )
        if not ranges and not eq and not mor:
            return int(snap["row_count"])
        return self._scan(spark, table, snap, ranges, eq).count()

    def file_metrics(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Per-file lineage of a snapshot as a queryable relation:
        (dir, name, rows, per-column min/max as a JSON string) — the
        north rule's partition-level row-count/lineage surface, read
        straight from the manifest (no data I/O)."""
        snap = self._resolve(table, self._load_manifest(table), snapshot_id)
        rows = [
            (
                f["dir"],
                f["name"],
                # NULL (not a sentinel) for pre-upgrade entries without
                # a recorded count — sums stay honest, gaps stay visible
                int(f["rows"]) if "rows" in f else None,
                json.dumps(f.get("stats", {}), sort_keys=True),
            )
            for f in self._snap_files(snap)
        ]
        return local_frame(
            spark,
            rows,
            T.StructType.fromDDL("dir string, name string, rows long, stats string"),
        )

    def compact(
        self,
        spark: SparkSession,
        table: str,
        n_files: int | None = None,
        target_file_bytes: int | None = None,
    ) -> dict | None:
        """Compaction (≡ Iceberg ``rewrite_data_files``), two modes:

        ``n_files`` — FULL rewrite of the current snapshot into
        ``n_files`` files as a new overwrite snapshot: long append
        chains accumulate many small files whose per-file open cost
        eventually dominates scans; compaction restores the target
        layout (including the sort order recorded at write time and the
        newest dir's partition spec) without changing a single row.  On
        a partitioned table ``n_files`` counts write tasks, each writing
        one file per partition value it holds.

        ``target_file_bytes`` — SELECTIVE binpack (Iceberg's binpack
        strategy): only groups of ≥ ``_BINPACK_MIN_FILES`` (2) undersized
        files (below the target, grouped per partition value where
        partitioned) are rewritten; every other file is re-referenced
        untouched — byte-identical on disk, O(small files) rewrite
        cost instead of O(table).  Merge-on-read deletes are RE-BASED
        for the rewritten rows only: the rewrite reads its inputs with
        the snapshot's full delete semantics applied, so the new files
        physically exclude deleted rows, while untouched files keep
        their delete files in force (their sequence numbers are
        unchanged).  Returns None when no group qualifies (nothing to
        do — no empty commit).  See :meth:`_compact_binpack`.

        Old snapshots stay readable until :meth:`expire_snapshots`
        reclaims them."""
        if (n_files is None) == (target_file_bytes is None):
            raise ValueError(
                "pass exactly one of n_files (full rewrite) or "
                "target_file_bytes (selective binpack)"
            )
        if target_file_bytes is not None:
            return self._compact_binpack(spark, table, int(target_file_bytes))
        man = self._load_manifest(table)
        snap = self._resolve(table, man)
        # carry any ingest marker forward: the compacted snapshot
        # represents the same committed state, and drain_to_catalog's
        # replay/foreign-checkpoint guard reads these from the NEWEST
        # snapshots — compaction followed by expiry must not erase the
        # last batch's exactly-once evidence
        meta = {"compacted_from": snap["snapshot_id"]}
        # walk back past marker-less delete/compaction commits (e.g. a
        # GDPR purge on top of the last ingest batch) to the newest
        # ingest marker — but STOP at a plain overwrite: it reset the
        # table's lineage, so an older marker no longer describes this
        # data and resurrecting it would corrupt the exactly-once guard
        for s in reversed(man["snapshots"]):
            if "checkpoint" in s.get("meta", {}):
                for k in ("checkpoint", "batch_id"):
                    if k in s["meta"]:
                        meta[k] = s["meta"][k]
                break
            lineage_reset = (
                s.get("mode", "overwrite") == "overwrite"
                and "compacted_from" not in s.get("meta", {})
            )
            if lineage_reset:
                break
        # inherit the bloom config (newest dir's) so compaction does not
        # silently lose point-lookup pruning; the rewrite re-blooms the
        # compacted files in the same commit
        bcfg = None
        for bcfg in (snap.get("blooms") or {}).values():
            pass  # insertion order: the last entry is the newest dir's
        # and the newest dir's partition spec, as the binpack keeps it:
        # the rewrite stays hive-partitioned and partition-pruned
        spec = None
        for spec in (snap.get("partition_specs") or {}).values():
            pass
        # commit against THIS load: a commit that lands while the rows
        # are rewritten fails the CAS instead of being overwritten
        return self._write(
            man,
            self._read_with_deletes(spark, table, snap),
            table,
            sort_by=tuple(snap.get("sort_by") or ()),
            meta=meta,
            n_files=n_files,
            mode="overwrite",
            bloom_cols=tuple(bcfg["cols"]) if bcfg else (),
            bloom_bits=bcfg["bits"] if bcfg else _BLOOM_BITS,
            bloom_k=bcfg["k"] if bcfg else _BLOOM_K,
            zorder=tuple(snap.get("zorder") or ()),
            partition_by=spec,
            branch=None,
        )

    def _compact_binpack(
        self,
        spark: SparkSession,
        table: str,
        target: int,
    ) -> dict | None:
        """Selective small-file compaction (Iceberg binpack): rewrite
        ONLY groups of ≥ ``_BINPACK_MIN_FILES`` files below ``target``
        bytes — grouped per partition value on partitioned tables — into
        ~ceil(group_bytes/target) files preserving the snapshot's
        sort/z-order clustering.  Untouched files are re-referenced
        byte-identical (their manifest segments reused verbatim), so a
        100 TB table pays O(small files), never O(table).

        Delete re-base: inputs are read through the snapshot's FULL
        merge-on-read delete semantics, so the rewritten files
        physically exclude deleted rows; untouched files keep their
        delete files in force (sequence numbers unchanged), and the
        new dir's sid exceeds every carried delete's, so no delete
        re-applies to the rewrite.

        Spec-evolution rail: on partitioned tables only files under
        the CURRENT spec are candidates (rewriting an old-spec dir is
        a relayout, not a binpack — use the full rewrite).  Returns
        None when no group qualifies: nothing to do, no empty commit."""
        man = self._load_manifest(table)
        snap = self._resolve(table, man)
        parent_files = self._snap_files(snap)
        tdir = self._tdir(table)
        pspecs = snap.get("partition_specs") or {}
        cur_spec = None
        for cur_spec in pspecs.values():
            pass  # insertion order: last = the current spec
        groups: dict = {}
        for f in parent_files:
            try:
                sz = os.path.getsize(os.path.join(tdir, f["dir"], f["name"]))
            except OSError:
                continue  # vanished → leave untouched, never rewrite blind
            if sz >= target:
                continue
            spec = pspecs.get(f["dir"])
            if cur_spec is not None:
                if spec != cur_spec or not f.get("partition"):
                    continue  # old-spec / unpartitioned stragglers: skip
                key = tuple(sorted(f["partition"].items()))
            else:
                if f.get("partition"):
                    continue
                key = None
            groups.setdefault(key, []).append((f, sz))
        inputs: list[dict] = []
        n_out = 0
        n_groups = 0
        for lst in groups.values():
            if len(lst) < _BINPACK_MIN_FILES:
                continue
            n_groups += 1
            inputs.extend(f for f, _ in lst)
            n_out += max(1, -(-sum(sz for _, sz in lst) // target))
        if not inputs:
            return None
        rows = self._read_with_deletes(spark, table, snap, inputs)
        sort_by = tuple(snap.get("sort_by") or ())
        zorder = tuple(snap.get("zorder") or ())
        pv = (
            _partition_cols([tuple(e) for e in cur_spec])
            if cur_spec is not None
            else []
        )
        sid = self._next_sid(man)
        data_dir = self._new_dir(table, sid)
        dname = os.path.basename(data_dir)
        new_files = self._write_data(
            rows,
            data_dir,
            # partition cols lead the range key → each partition's rows
            # land in contiguous tasks (per-group packing), sort order
            # preserved within files
            [n for n, _ in pv] + ([_ZORDER_KEY] if zorder else list(sort_by)),
            n_out,
            sort_by or zorder,
            zorder,
            pv,
        )
        in_rows = sum(int(f.get("rows") or 0) for f in inputs)
        new_snap = self._snap_record(
            snap,
            sid,
            data_dir,
            "compact",
            snap["row_count"] - in_rows + sum(f["rows"] for f in new_files),
            zorder=list(zorder),
            meta={
                "binpack_inputs": len(inputs),
                "binpack_groups": n_groups,
                "compacted_from": snap["snapshot_id"],
            },
        )
        blooms = new_snap["blooms"]
        bcfg = None
        for bcfg in blooms.values():
            pass
        if bcfg is not None and {f["dir"] for f in inputs} & set(blooms):
            _write_bloom_sidecar(
                spark, data_dir, tuple(bcfg["cols"]), bcfg["bits"], bcfg["k"]
            )
            blooms[dname] = dict(bcfg)
        if pv:
            new_snap["partition_specs"][dname] = [list(e) for e in cur_spec]
        inset = {(f["dir"], f["name"]) for f in inputs}
        untouched = [
            f for f in parent_files if (f["dir"], f["name"]) not in inset
        ]
        return self._commit_snap(
            table, man, new_snap, untouched + new_files, [data_dir]
        )

    # -- named refs (≡ Iceberg tags) ------------------------------------

    def tag(
        self, table: str, name: str, snapshot_id: int | None = None
    ) -> dict:
        """Pin a NAMED REF to a snapshot (≡ Iceberg tags): a stable,
        human-meaningful handle — ``cat.read(spark, t, tag="v1-train")``
        — that :meth:`expire_snapshots` RETAINS regardless of the
        keep-last horizon and :meth:`rollback` refuses to orphan.  The
        reproducibility primitive for training runs: tag the snapshot a
        model was trained on and the exact bytes stay addressable while
        routine expiry reclaims everything else.  Commit is the same
        manifest CAS as every other metadata change."""
        man = self._load_manifest(table)
        refs = man.setdefault("refs", {})
        if name in refs:
            raise ValueError(
                f"tag {name!r} already points at snapshot {refs[name]} — "
                "remove_tag() first (retags must be explicit)"
            )
        snap = self._resolve(table, man, snapshot_id, main_only=True)
        refs[name] = snap["snapshot_id"]
        self._commit_manifest(table, man)
        return {"name": name, "snapshot_id": snap["snapshot_id"]}

    def remove_tag(self, table: str, name: str) -> None:
        man = self._load_manifest(table)
        refs = man.get("refs") or {}
        if name not in refs:
            raise KeyError(f"no tag {name!r} on table {table!r}")
        del refs[name]
        self._commit_manifest(table, man)

    def tags(self, table: str) -> dict[str, int]:
        return dict(self._load_manifest(table).get("refs") or {})

    # -- branches (≡ Iceberg branch refs / write-audit-publish) --------
    #
    # The WAP workflow for a training-data pipeline: stage a day's
    # ingest on an ``audit`` branch (``write(..., branch="audit")``),
    # run validation queries against ``read(branch="audit")`` — main
    # readers never see a row — then ``publish_branch`` fast-forwards
    # main to the audited head, or ``drop_branch`` discards the lot
    # (data dirs reclaimed by :meth:`remove_orphan_files`).  Every
    # mutation is one manifest CAS, so branch commits inherit the
    # optimistic-concurrency protocol.

    def create_branch(
        self, table: str, name: str, snapshot_id: int | None = None
    ) -> dict:
        """Fork a named branch from a MAIN snapshot (default: current
        head).  Returns ``{"head": sid, "fork": sid}``."""
        man = self._load_manifest(table)
        branches = man.setdefault("branches", {})
        if name in branches:
            raise ValueError(
                f"branch {name!r} already exists (head "
                f"{branches[name]['head']}) — drop_branch() first"
            )
        snap = self._resolve(table, man, snapshot_id, main_only=True)
        branches[name] = {
            "head": snap["snapshot_id"],
            "fork": snap["snapshot_id"],
        }
        self._commit_manifest(table, man)
        return dict(branches[name])

    def branches(self, table: str) -> dict[str, dict]:
        return {
            n: dict(b)
            for n, b in (
                self._load_manifest(table).get("branches") or {}
            ).items()
        }

    def _branch_chain(self, man: dict, name: str) -> list[dict]:
        """The branch's own snapshots, fork-exclusive, in commit order."""
        b = (man.get("branches") or {}).get(name)
        if b is None:
            raise KeyError(f"no branch {name!r}")
        by_id = {
            s["snapshot_id"]: s
            for s in man.get("branch_snapshots") or []
        }
        chain, cur = [], b["head"]
        while cur is not None and cur != b["fork"]:
            s = by_id.get(cur)
            if s is None:
                raise ValueError(
                    f"branch {name!r} chain broken at snapshot {cur}"
                )
            chain.append(s)
            cur = s.get("parent_id")
        chain.reverse()
        return chain

    def publish_branch(self, table: str, name: str) -> list[int]:
        """Fast-forward main to the branch head (≡ Iceberg
        ``fast_forward`` / the WAP publish step) and delete the branch
        ref.  Requires main's head to still be the branch's fork point;
        if main advanced, raises — re-stage on a fresh branch or apply
        individual appends with :meth:`cherrypick_snapshot`.  Returns
        the published snapshot ids."""
        man = self._load_manifest(table)
        b = (man.get("branches") or {}).get(name)
        if b is None:
            raise KeyError(f"no branch {name!r} on table {table!r}")
        main = man["snapshots"]
        if not main or main[-1]["snapshot_id"] != b["fork"]:
            head = main[-1]["snapshot_id"] if main else None
            raise ValueError(
                f"non-fast-forward: main head is {head} but branch "
                f"{name!r} forked at {b['fork']} — re-branch from the "
                "current head or cherrypick_snapshot() each append"
            )
        chain = self._branch_chain(man, name)
        ids = {s["snapshot_id"] for s in chain}
        man["snapshots"] = main + chain
        man["branch_snapshots"] = [
            s
            for s in man.get("branch_snapshots") or []
            if s["snapshot_id"] not in ids
        ]
        del man["branches"][name]
        self._commit_manifest(table, man)
        return sorted(ids)

    def drop_branch(self, table: str, name: str) -> list[int]:
        """Discard a branch and its snapshots (the WAP reject step).
        Data dirs are NOT deleted here — a concurrent cherry-pick may
        reference them; :meth:`remove_orphan_files` reclaims anything
        truly unreferenced after its age rail.  Returns dropped ids."""
        man = self._load_manifest(table)
        chain = self._branch_chain(man, name)  # KeyError if absent
        ids = {s["snapshot_id"] for s in chain}
        man["branch_snapshots"] = [
            s
            for s in man.get("branch_snapshots") or []
            if s["snapshot_id"] not in ids
        ]
        del man["branches"][name]
        self._commit_manifest(table, man)
        return sorted(ids)

    def cherrypick_snapshot(self, table: str, snapshot_id: int) -> dict:
        """Apply ONE append snapshot's own files onto the CURRENT main
        head (≡ Iceberg ``cherrypick_snapshot`` — the publish primitive
        when main moved past the branch's fork).  The new snapshot
        carries main head's delete state; the picked files keep their
        write-time sequence number, so equality deletes committed after
        the original write still remove their rows (Iceberg v2
        sequence semantics)."""
        man = self._load_manifest(table)
        src = self._resolve(table, man, snapshot_id)
        if src.get("mode") != "append":
            raise ValueError(
                f"snapshot {snapshot_id} is mode={src.get('mode')!r} — "
                "only append snapshots compose onto a moved head "
                "(overwrite/delete commits don't cherry-pick)"
            )
        head = self._resolve(table, man)
        own_dir = os.path.basename(src["path"])
        head_files = self._snap_files(head)
        if any(f["dir"] == own_dir for f in head_files):
            raise ValueError(
                f"snapshot {snapshot_id}'s files are already referenced "
                "by main — cherry-pick would double-count its rows"
            )
        own = [f for f in self._snap_files(src) if f["dir"] == own_dir]
        sid = self._next_sid(man)
        snap = self._snap_record(
            head,
            sid,
            # metadata-only commit: the picked files live in the source
            # snapshot's dir; this v-dir is named but never created
            os.path.join(self._tdir(table), f"v{sid}-meta"),
            "append",
            head["row_count"] + sum(int(f.get("rows") or 0) for f in own),
            meta={"cherrypicked_from": snapshot_id},
        )
        for k in ("blooms", "partition_specs"):
            if own_dir in (src.get(k) or {}):
                snap[k][own_dir] = src[k][own_dir]
        return self._commit_snap(table, man, snap, head_files + own)

    def remove_orphan_files(
        self,
        table: str,
        dry_run: bool = False,
        older_than_seconds: float = 86_400.0,
    ) -> list[str]:
        """Delete data dirs under the table location that NO snapshot
        (or delete file) references — ≡ Iceberg's
        ``remove_orphan_files``.  Orphans arise from crashes between a
        data write and its manifest commit, and from rolling back past
        an upsert (whose delete-file dir is not the snapshot's own
        path).

        ``older_than_seconds`` (default 1 day) is the SAFETY RAIL, not
        an optimization: a writer's data files land BEFORE its manifest
        CAS, so a dir that is unreferenced *right now* may belong to an
        in-flight commit — deleting it would let that commit succeed
        over vanished files (the same race Iceberg's 3-day default
        guards).  Only dirs whose mtime predates the cutoff are
        candidates; pass 0 ONLY when no writer can be running.  The
        commit lock is held across listing+deletion so no commit lands
        mid-sweep; only ``v*`` dirs are candidates — the manifest and
        lock files are never touched."""
        import fcntl

        lockpath = self._manifest_path(table) + ".lock"
        fd = os.open(lockpath, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            man = self._load_manifest(table)
            all_snaps = man["snapshots"] + (man.get("branch_snapshots") or [])
            live = self._live_dirs(all_snaps)
            # a live dir's bloom sidecar is live (named <dir>-bloom)
            live |= {d + BLOOM_SUFFIX for d in live}
            tdir = self._tdir(table)
            cutoff = time.time() - older_than_seconds

            def old_enough(d: str) -> bool:
                try:
                    return os.path.getmtime(os.path.join(tdir, d)) <= cutoff
                except OSError:
                    return False  # vanished mid-listing: not ours to sweep

            orphans = sorted(
                d
                for d in os.listdir(tdir)
                if d.startswith("v")
                and os.path.isdir(os.path.join(tdir, d))
                and d not in live
                and old_enough(d)
            )
            if not dry_run:
                for d in orphans:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            # manifest-tier orphans: segments written by a commit whose
            # CAS never landed (crash between seal and commit) — same
            # age rail as data dirs, for the same in-flight-writer race
            live_segs = self._live_segments(all_snaps)
            segdir = self._seg_dir(tdir)
            dead_segs = [
                n
                for n in (
                    sorted(os.listdir(segdir)) if os.path.isdir(segdir) else []
                )
                if n.startswith("seg-")
                and n not in live_segs
                and old_enough(os.path.join("manifests", n))
            ]
            if not dry_run:
                self._unlink_segments(table, dead_segs)
            return orphans + [os.path.join("manifests", n) for n in dead_segs]
        finally:
            os.close(fd)

    def expire_snapshots(self, table: str, keep_last: int) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots and delete the
        data dirs no surviving snapshot references (append snapshots
        share files with their parents — sharing is refcounted at the
        dir level).  TAGGED and BRANCH-REFERENCED snapshots are always
        retained (≡ Iceberg ref-aware expiry): a branch's head/fork may
        be a MAIN snapshot (a branch with no commits yet), and expiring
        it would rmtree data dirs the branch ref still points at —
        a later write(branch=) would then hit a corrupted-ref error.
        Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        man = self._load_manifest(table)
        snaps = man["snapshots"]
        if len(snaps) <= keep_last:
            return []
        tagged = set((man.get("refs") or {}).values())
        for b in (man.get("branches") or {}).values():
            tagged |= {b["head"], b["fork"]}
        horizon = {s["snapshot_id"] for s in snaps[-keep_last:]}
        kept = [
            s
            for s in snaps
            if s["snapshot_id"] in horizon or s["snapshot_id"] in tagged
        ]
        dropped = [
            s
            for s in snaps
            if s["snapshot_id"] not in horizon
            and s["snapshot_id"] not in tagged
        ]
        if not dropped:
            return []
        # branch snapshots share data dirs with their (possibly
        # expired) main ancestors — their references keep dirs alive
        alive = kept + (man.get("branch_snapshots") or [])
        man["snapshots"] = kept
        self._commit_manifest(table, man)
        dead_dirs = self._live_dirs(dropped) - self._live_dirs(alive)
        tdir = self._tdir(table)
        self._remove_dirs(os.path.join(tdir, d) for d in dead_dirs)
        # manifest-tier GC: segments only expired snapshots referenced
        self._unlink_segments(
            table, self._live_segments(dropped) - self._live_segments(alive)
        )
        return [s["snapshot_id"] for s in dropped]

    def _partition_prune(
        self,
        spark: SparkSession,
        snap: dict,
        files: list[dict],
        norm: dict,
        eq: dict,
    ) -> list[dict]:
        """Drop files whose hive partition value provably excludes the
        predicate — hidden-partition pruning (≡ Iceberg's transform-
        aware file filtering): the user predicates on ts/host; each
        file's dir spec says which transform of which write-time column
        produced its partition value, and the predicate is translated
        into that transform's value space.  Time transforms prune
        ranges (+the folded eq points), truncate prunes string ranges,
        bucket and identity prune equality probes.  Purely an
        optimization: unknown specs, type mismatches, or missing values
        keep the file (the residual filter still applies).  A
        ``__HIVE_DEFAULT_PARTITION__`` file holds only NULL rows for
        the source column, which no concrete predicate can match."""
        pspecs = snap.get("partition_specs") or {}
        if not pspecs or (not norm and not eq):
            return files
        pred_cols = set(norm) | set(eq)
        out = []
        for frec in files:
            spec = pspecs.get(frec["dir"])
            pvals = frec.get("partition") or {}
            if not spec or not pvals:
                out.append(frec)
                continue
            keep = True
            for i, entry in enumerate(spec):
                t, col = entry[0], entry[-1]
                pvs = pvals.get(f"_pv{i}")
                if pvs is None or col not in pred_cols:
                    continue
                if t in _TIME_FMT or t == "truncate":
                    # the value is a fixed-width prefix of the string
                    # form ('T'-separated isoformat for time transforms)
                    w, fix = (
                        (_TIME_FMT[t][1], _iso_t)
                        if t in _TIME_FMT
                        else (entry[1], str)
                    )
                    rs = [
                        (fix(lo)[:w], fix(hi)[:w])
                        for lo, hi in (norm.get(col) or [])
                        if isinstance(lo, str) and isinstance(hi, str)
                    ]
                    if rs and (
                        pvs == _HIVE_NULL
                        or not any(lo <= pvs <= hi for lo, hi in rs)
                    ):
                        keep = False
                elif t == "bucket":
                    v = eq.get(col)
                    if v is not None and (
                        pvs == _HIVE_NULL
                        or int(pvs)
                        != _xxhash64_pair(spark, str(v))[0] % int(entry[1])
                    ):
                        keep = False
                elif t == "identity":
                    v = eq.get(col)
                    if v is not None and (
                        pvs == _HIVE_NULL or str(v) != pvs
                    ):
                        keep = False
                if not keep:
                    break
            if keep:
                out.append(frec)
        return out

    def _bloom_prune(
        self,
        spark: SparkSession,
        table: str,
        snap: dict,
        files: list[dict],
        eq: dict,
    ) -> list[dict]:
        """Drop files whose Bloom sidecar proves an ``eq`` value absent.
        Purely an optimization: a missing/unreadable sidecar, a column
        without a bloom, or a value type whose string form could drift
        from Spark's CAST (bytes/float/datetime) keeps the file.  Reads
        ≤ k sidecar words per (dir, col) via parquet predicate pushdown;
        no data file is opened."""
        import pyarrow.parquet as pq

        blooms = snap.get("blooms") or {}
        pos_cache: dict = {}
        side_cache: dict = {}
        out = []
        for frec in files:
            cfg = blooms.get(frec["dir"])
            drop = False
            if cfg:
                for c, v in eq.items():
                    if not isinstance(v, (str, int)) or isinstance(v, bool):
                        continue  # str(v) may differ from CAST AS STRING
                    if c not in cfg["cols"]:
                        continue
                    pkey = (cfg["bits"], cfg["k"], str(v))
                    pts = pos_cache.get(pkey)
                    if pts is None:
                        pts = pos_cache[pkey] = _bloom_positions(
                            spark, str(v), cfg["bits"], cfg["k"]
                        )
                    skey = (frec["dir"], c, pkey)
                    if skey not in side_cache:
                        sidecar = _bloom_sidecar(
                            os.path.join(self._tdir(table), frec["dir"])
                        )
                        try:
                            tbl = pq.read_table(
                                sidecar,
                                filters=[
                                    ("col", "=", c),
                                    (
                                        "word",
                                        "in",
                                        sorted({w for w, _ in pts}),
                                    ),
                                ],
                            )
                            side_cache[skey] = dict(
                                zip(
                                    zip(
                                        tbl["fname"].to_pylist(),
                                        tbl["word"].to_pylist(),
                                    ),
                                    tbl["bits"].to_pylist(),
                                )
                            )
                        except (FileNotFoundError, OSError):
                            side_cache[skey] = None  # sidecar gone: keep
                    words = side_cache[skey]
                    if words is None:
                        continue
                    for w, b in pts:
                        # sidecars record basenames (input_file_name);
                        # partitioned dirs prepend pv= subpaths to the
                        # manifest name — part-file uuids keep basenames
                        # unique within a dir
                        bits = words.get(
                            (os.path.basename(frec["name"]), w), 0
                        )
                        # python ints are two's-complement under >>, so
                        # the sign bit of the stored long extracts fine
                        if not (bits >> b) & 1:
                            drop = True
                            break
                    if drop:
                        break
            if not drop:
                out.append(frec)
        return out

    def scan(
        self,
        spark: SparkSession,
        table: str,
        ranges: dict[str, tuple] | None = None,
        snapshot_id: int | None = None,
        eq: dict | None = None,
    ) -> DataFrame:
        """Manifest-pruned scan — ≡ Iceberg's manifest-level file
        skipping, the capability that makes a 100 TB table queryable
        without listing/opening 100 k files.

        ``ranges`` maps column → (lo, hi) inclusive, or a LIST of such
        ranges (OR-semantics — e.g. the OR-of-BETWEEN ranges
        `grid.morton_ranges` plans for a bbox; a file survives if any
        range overlaps, rows must fall in some range).  Combined with a
        Morton-sorted write this stacks THREE pruning levels: manifest
        file skipping here, parquet row-group stats inside the
        surviving files, then the residual filter.  File selection
        happens on the DRIVER against the manifest's per-file min/max
        stats (metadata plane, no Spark job, no file opens); Spark then
        reads only the surviving files, and parquet row-group stats
        prune further *within* them (the table is range-partitioned and
        sorted by ``sort_by`` at write).  The residual predicate is
        applied so the result is exactly ``read(...).filter(...)`` —
        pruning is a pure optimization, never a semantics change.

        Files with no recorded stats for a column are kept
        (conservative, like Iceberg's null-stats behavior).

        ``eq`` maps column → value for POINT LOOKUPS.  Each equality
        contributes a degenerate (v, v) range to the min/max pass AND —
        when the table was written with ``bloom_cols`` — consults the
        per-file Bloom sidecars: a file whose bloom provably lacks the
        value is skipped even though its [min, max] covers it, which on
        a high-cardinality unsorted key (url) is the difference between
        opening k words per file and opening every file.  False
        positives only cost a read (the residual filter still applies);
        false negatives cannot happen (probe and build share Spark's
        ``xxhash64``).  NULL is not a value — use a filter on the read.
        """
        man = self._load_manifest(table)
        snap = self._resolve(table, man, snapshot_id)
        return self._scan(spark, table, snap, ranges, eq)

    def _scan(
        self,
        spark: SparkSession,
        table: str,
        snap: dict,
        ranges: dict | None,
        eq: dict | None,
    ) -> DataFrame:
        """:meth:`scan` of the resolved snapshot ``snap``."""
        ranges = dict(ranges or {})
        eq = dict(eq or {})
        for c, v in eq.items():
            if v is None:
                raise ValueError(
                    f"eq[{c!r}] is None — equality probes need a value; "
                    "filter IS NULL on read() instead"
                )
            if c in ranges:
                raise ValueError(
                    f"column {c!r} appears in both ranges and eq"
                )
            ranges[c] = (v, v)
        if not ranges:  # no predicate → plain snapshot read
            return self._read_with_deletes(spark, table, snap)
        for c, r in ranges.items():
            if r is None or (isinstance(r, list) and not r):
                # e.g. grid.cell_disk_ranges' over-budget None forwarded
                raise ValueError(
                    f"ranges[{c!r}] is {r!r} — pass concrete (lo, hi) "
                    "range(s), or omit the column to skip filtering on it"
                )
        norm = {
            c: [
                (_stat_bound(lo), _stat_bound(hi))
                for lo, hi in (r if isinstance(r, list) else [r])
            ]
            for c, r in ranges.items()
        }
        # manifest-LIST-level pruning (≡ Iceberg's manifest-list
        # partition summaries): drop whole segments whose coarse bounds
        # provably exclude every range BEFORE loading any file entry —
        # on a 100k-file table a point lookup loads a handful of segment
        # files, not the whole manifest tier
        files = self._snap_files(snap, norm)
        files = self._partition_prune(spark, snap, files, norm, eq)
        keep = []
        for frec in files:
            stats = frec.get("stats", {})
            for col, rs in norm.items():
                st = stats.get(col)
                if st is None or st["min"] is None or st["max"] is None:
                    continue  # no stats → cannot prune this file
                hit = _range_hit(st["min"], st["max"], rs)
                if hit is None:
                    raise TypeError(
                        f"ranges[{col!r}] bounds are "
                        f"{type(rs[0][0]).__name__} but the manifest "
                        f"stats for {col!r} are "
                        f"{type(st['min']).__name__} — pass bounds of "
                        "the stored column's type (timestamps as "
                        "datetime/isoformat strings)"
                    )
                if not hit[0]:
                    break
            else:
                keep.append(frec)
        if eq and (snap.get("blooms") or {}):
            keep = self._bloom_prune(spark, table, snap, keep, eq)
        import functools
        import operator

        from eodal_spark import grid

        residual = functools.reduce(
            operator.and_,
            [grid.ranges_predicate(c, rs) for c, rs in norm.items()],
        )
        # delete-aware: deletes apply to the surviving files with the
        # same sequence semantics as read(); no survivors → the
        # snapshot's empty relation
        return self._read_with_deletes(spark, table, snap, keep).filter(
            residual
        )

    def rollback(self, table: str, snapshot_id: int) -> None:
        man = self._load_manifest(table)
        dangling = {
            n: s
            for n, s in (man.get("refs") or {}).items()
            if s > snapshot_id
        }
        if dangling:
            raise ValueError(
                f"rollback past tagged snapshot(s) {dangling} would "
                "dangle the tag(s) — remove_tag() first"
            )
        forked = {
            n: b["fork"]
            for n, b in (man.get("branches") or {}).items()
            if b["fork"] > snapshot_id
        }
        if forked:
            # the branch's appends re-reference its fork ancestors'
            # data dirs — rmtree'ing them below would corrupt the branch
            raise ValueError(
                f"rollback past branch fork point(s) {forked} would "
                "orphan the branch(es) — publish_branch()/drop_branch() "
                "first"
            )
        dropped = [s for s in man["snapshots"] if s["snapshot_id"] > snapshot_id]
        man["snapshots"] = [
            s for s in man["snapshots"] if s["snapshot_id"] <= snapshot_id
        ]
        self._commit_manifest(table, man)
        self._remove_dirs(s["path"] for s in dropped)
        alive = man["snapshots"] + (man.get("branch_snapshots") or [])
        self._unlink_segments(
            table, self._live_segments(dropped) - self._live_segments(alive)
        )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed, sorted table write (Hive-bucketed parquet; Iceberg
    bucket-partitioning in production).

    Two tables bucketed on the same key join WITHOUT an exchange — the
    co-located join strategy for repeated large×large joins on
    ``cell_id`` (SURVEY.md §2.3: "bucketing for co-located joins").
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


class ResumablePipeline:
    """Driver loop with stage-level resume: a stage whose output snapshot
    exists (matching stage name in snapshot meta) is *skipped* and its
    snapshot read back — lineage-true resume from checkpoint.

    ≡ pickle round-trip resume (scene.py:307-329) with real atomicity.
    """

    def __init__(self, catalog: SnapshotCatalog, spark: SparkSession):
        self.catalog = catalog
        self.spark = spark
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def stage(
        self,
        name: str,
        fn,
        sort_by: tuple[str, ...] = (),
    ) -> DataFrame:
        """fn: () -> DataFrame, evaluated only if no snapshot exists."""
        cur = self.catalog.current_snapshot(name)
        if cur is not None and cur["meta"].get("stage") == name:
            self.skipped.append(name)
            return self.catalog.read(self.spark, name)
        df = fn()
        self.catalog.write(df, name, sort_by=sort_by, meta={"stage": name})
        self.executed.append(name)
        return self.catalog.read(self.spark, name)
