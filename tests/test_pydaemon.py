"""The engine's Python worker daemon (`eodal_spark.pydaemon`): a zip
archive's directory is re-read only when the file changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from eodal_spark import pydaemon


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    """Spark-free: the second invalidation of an unchanged archive reads
    no directory; after the archive is rewritten it is read once again,
    and a module the rewrite added imports through the package's own
    importer, which shares the re-read directory."""
    archive = str(tmp_path / "mods.zip")
    pkg = f"_pd_pkg_{id(tmp_path)}"
    _write_zip(archive, {f"{pkg}/__init__": "", f"{pkg}/a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in (pkg, f"{pkg}.a", f"{pkg}.b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module(f"{pkg}.a").X == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches
    )
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # no stat on record yet: read once
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(
        archive,
        {f"{pkg}/__init__": "", f"{pkg}/a": "X = 1\n", f"{pkg}/b": "Y = 2\n"},
    )
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module(f"{pkg}.b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_warm_tasks_reread_no_archive_under_the_engine_daemon(spark):
    """Every task reports the daemon's re-read counter as its worker
    sees it after the per-task cache invalidation: workers run under
    the engine daemon, and a second warm job adds no re-read."""
    import os

    import pandas as pd

    assert spark.conf.get("spark.python.daemon.module") == "eodal_spark.pydaemon"

    def probe(batches):
        import zipimport

        from eodal_spark import pydaemon as d

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "rereads": [d.REREADS],
                "patched": [
                    zipimport.zipimporter.invalidate_caches is d._invalidate_caches
                ],
            }
        )

    df = spark.range(0, 4000, numPartitions=4)
    schema = "pid long, rereads long, patched boolean"
    warm = df.mapInPandas(probe, schema).collect()
    again = df.mapInPandas(probe, schema).collect()
    assert all(r.patched for r in warm + again)
    # a reused worker keeps its count; a newly forked one starts from
    # the daemon's, which no task changes
    assert len({r.rereads for r in warm + again}) == 1


def test_daemon_starts_outside_the_checkout(tmp_path):
    """A driver started in another directory still runs Python tasks:
    the workers find the daemon through the path `get_spark` sets."""
    import subprocess
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from eodal_spark.session import get_spark\n"
        "spark = get_spark('cwd', master='local[1]', shuffle_partitions=1,\n"
        "                  extra_conf={'spark.driver.memory': '1g'})\n"
        "n = spark.range(10).mapInPandas(lambda it: it, 'id long').count()\n"
        "spark.stop()\n"
        "print('rows', n)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, root],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.stdout.splitlines()[-1:] == ["rows 10"], out.stderr[-2000:]
