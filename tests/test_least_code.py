"""Least-code guard (Spark-free): every top-level function, class and
constant the engine defines, and every public method of its top-level
classes, is used somewhere in the repo outside ``tests/`` — or is kept
for a reason the guard checks (`KEPT`)."""

from __future__ import annotations

import ast
import os
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
EXEMPT = {"__version__"}

# Engine definitions that nothing outside tests/ reaches, each kept for
# one reason: the quoted text stands in the named file (whitespace
# aside).  COVERAGE.md rows map a definition to an EODAL reference
# operator, the reproduction surface; a test file that uses it as an
# independent reference to check other engine code keeps it too.
KEPT = {
    "band_summaries": ("COVERAGE.md", "`band_summaries` keep_nans semantics"),
    "cell_encode_arrow": ("COVERAGE.md", "(`grid.cell_encode_arrow`,"),
    "commit_with_retry": ("COVERAGE.md", "`commit_with_retry` = the standard"),
    "dequantize_int8": ("COVERAGE.md", "`similarity.quantize_int8` / `dequantize_int8`"),
    "drop_duplicated_docs": ("COVERAGE.md", "+ `drop_duplicated_docs`"),
    "explode_multipoints": ("COVERAGE.md", "`polygon_cover_cells` / `explode_multipoints`"),
    "file_metrics": ("COVERAGE.md", "`SnapshotCatalog.file_metrics`"),
    "frame_sample": ("COVERAGE.md", "stubbed codec, frame sampling"),
    "list_adapters": ("COVERAGE.md", "**named adapter registry** `sources/sensors.py`"),
    "medoid_composite": ("COVERAGE.md", "`timeseries.medoid_composite` (best-pixel"),
    "perplexity_filter": ("COVERAGE.md", "+ `perplexity_filter`"),
    "real_decode": ("COVERAGE.md", "stubbed codec, frame sampling"),
    "remove_tag": ("COVERAGE.md", "`SnapshotCatalog.tag/remove_tag/tags`"),
    "render_plot": ("COVERAGE.md", "`export.plot_data`/`plot_spec`/`render_plot`"),
    "rollback": ("COVERAGE.md", "rollback refuses to dangle a tag"),
    "salted_repartition": ("COVERAGE.md", "explicit two-level via `tiling.salted_repartition`"),
    "scrub_duplicated_spans": ("COVERAGE.md", "+ `scrub_duplicated_spans`"),
    "session_windowed_counts": ("COVERAGE.md", "**session windows**"),
    "slope_aspect": ("COVERAGE.md", "`focal.slope_aspect` (slope°/aspect°"),
    "snapshot_as_of": ("COVERAGE.md", "`SnapshotCatalog.read(as_of=...)` / `snapshot_as_of`"),
    "stack_csv": ("COVERAGE.md", "`sources/stacking.stack_csv`"),
    "stack_union": ("COVERAGE.md", "**dtype promotion lattice** for heterogeneous band stacks"),
    "stateful_cell_counter": ("COVERAGE.md", "**custom stateful operator** via `applyInPandasWithState`"),
    "stream_stream_enrich": ("COVERAGE.md", "inner join** (`stream_stream_enrich`)"),
    "streaming_url_dedup": ("COVERAGE.md", "dedup** (`streaming_url_dedup`"),
    "to_wkt": ("COVERAGE.md", "**WKT/WKB parse + round-trip**"),
    "to_xarray": ("COVERAGE.md", "| `to_xarray` (labeled export) |"),
    "train_bpe": ("COVERAGE.md", "`train_bpe` trains on the WORD-FREQUENCY relation"),
    "value_counts": ("COVERAGE.md", "| `zonal.value_counts` |"),
    "write_bucketed": ("COVERAGE.md", "+ `write_bucketed` (co-located joins"),
    # independent references: the test checks engine code against them
    "cell_centroid_lat": ("tests/test_grid.py", 'grid.cell_centroid_lat("cell", res)'),
    "cell_centroid_lon": ("tests/test_grid.py", 'grid.cell_centroid_lon("cell", res)'),
    "knn_brute": ("tests/test_knn.py", "brute = K.knn_brute(q, pages, k=3)"),
    "np_cell_centroid": ("tests/test_spatial_join.py", "grid.np_cell_centroid(cell, RES)"),
    "REREADS": ("tests/test_pydaemon.py", '"rereads": [d.REREADS]'),
}


def _repo_sources() -> dict[Path, ast.Module]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = Path(d, f)
                out[path] = ast.parse(path.read_text(), str(path))
    return out


def _uses(node: ast.AST) -> Counter:
    """Names a subtree reads: loads, attribute accesses, imports, and
    identifier-shaped strings (getattr / monkeypatch keys)."""
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                c[n.value] += 1
    return c


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(
                        m, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ) and not m.name.startswith("_"):
                        yield m.name, m
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node


def _unreached() -> list[tuple[str, str]]:
    """(location, name) of each engine definition that no code outside
    ``tests/`` references."""
    sources = _repo_sources()
    uses: Counter = Counter()
    for p, tree in sources.items():
        if p.relative_to(ROOT).parts[0] != "tests":
            uses += _uses(tree)
    engine = [
        p for p in sources
        if p.relative_to(ROOT).parts[0] == "eodal_spark"
        or p == ROOT / "__spark_entry__.py"
    ]
    assert engine
    return [
        (f"{p.relative_to(ROOT)}:{node.lineno}", name)
        for p in sorted(engine)
        for name, node in _definitions(sources[p])
        if name not in EXEMPT and uses[name] <= _uses(node)[name]
    ]


def test_every_engine_definition_is_referenced():
    """Referenced outside ``tests/``, or kept in `KEPT`; and every
    `KEPT` entry still needs its reason."""
    unreached = _unreached()
    dead = [f"{loc} {name}" for loc, name in unreached if name not in KEPT]
    assert not dead, "reached by tests alone, or never:\n" + "\n".join(dead)
    stale = sorted(set(KEPT) - {name for _, name in unreached})
    assert not stale, f"KEPT entries reached elsewhere or gone: {stale}"


def test_every_kept_definition_cites_its_reason():
    flat = {}
    missing = []
    for name, (path, text) in sorted(KEPT.items()):
        if path not in flat:
            flat[path] = " ".join((ROOT / path).read_text().split())
        if " ".join(text.split()) not in flat[path]:
            missing.append(f"{name}: {path} does not say {text!r}")
    assert not missing, "\n".join(missing)


def test_driver_rows_become_relations_only_in_local_frame():
    """`session.local_frame` is the engine's one way to turn driver rows
    into a relation: no other engine code calls ``createDataFrame``."""
    session = ROOT / "eodal_spark" / "session.py"
    stray = []
    for p, tree in sorted(_repo_sources().items()):
        if p.relative_to(ROOT).parts[0] != "eodal_spark":
            continue
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if p == session
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        stray += [
            f"{p.relative_to(ROOT)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not stray, "createDataFrame outside local_frame:\n" + "\n".join(stray)


def test_sessions_are_built_only_in_get_spark():
    """`session.get_spark` is the one place a session is built, so every
    entry point (engine, scripts, examples, benches, tests) gets the
    engine's conf, its Python worker daemon included: no other file
    touches ``SparkSession.builder``."""
    session = ROOT / "eodal_spark" / "session.py"
    stray = [
        f"{p.relative_to(ROOT)}:{n.lineno}"
        for p, tree in sorted(_repo_sources().items())
        if p != session
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "builder"
        and isinstance(n.value, (ast.Name, ast.Attribute))
        and getattr(n.value, "id", getattr(n.value, "attr", None)) == "SparkSession"
    ]
    assert not stray, "SparkSession.builder outside get_spark:\n" + "\n".join(stray)
