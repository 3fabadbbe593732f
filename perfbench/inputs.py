"""Seeded inputs and the DuckDB oracles that check the engine's output.

Every generator takes the run's seed and nothing else varies: the seed
moves the row-id offset, the three hotspot centres, the AOI polygons,
the query points and the lookup keys.
Sizes are fixed, so the work per pass does not depend on the seed.

Pages follow the shape of `eodal_spark.sources.pages` (geo written in
the page body, url unique per row id) but are generated and written by
DuckDB: the engine only ever sees the stored tables.
"""

from __future__ import annotations

import gzip
import hashlib
import math
import os
import random
import time

import duckdb

EPOCH_BASE = 1556668800  # 2019-05-01T00:00:00Z
WINDOW_SECONDS = 7948800  # 92 days
HOT_SHARE_PCT = 40  # share of pages inside the three hotspots


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def pages_spec(n: int, seed: int) -> dict:
    rng = random.Random(seed * 7919 + 1)
    return {
        "n": n,
        "offset": rng.randrange(10**9),
        # (lon_centi, lat_centi) of each hotspot, away from poles and ±180°
        "cities": [
            (rng.randrange(3000, 33000), rng.randrange(5000, 13000)) for _ in range(3)
        ],
    }


def pages_sql(spec: dict) -> str:
    """The pages table as a DuckDB SELECT: url, ts_sec, warc_ts, html,
    text, lang, lat_centi, lon_centi, n_chars and the row index ix."""
    c = spec["cities"]
    pick = lambda k: (  # noqa: E731
        f"(CASE (h // 10) % 3 WHEN 0 THEN {c[0][k]} WHEN 1 THEN {c[1][k]} ELSE {c[2][k]} END)"
    )
    hot = f"(h % 100 < {HOT_SHARE_PCT})"
    s = lambda e: f"CAST({e} AS VARCHAR)"  # noqa: E731
    return f"""
        WITH b AS (
          SELECT range + {spec['offset']} AS id,
                 (range + {spec['offset']}) * 2654435761 % 2147483648 AS h
          FROM range({spec['n']})
        ), g AS (
          SELECT id,
                 'https://site' || {s('h % 1000')} || '.example/p/' || {s('id')} AS url,
                 {EPOCH_BASE} + (id * 104729 + h % 97) % {WINDOW_SECONDS} AS ts_sec,
                 ['en', 'de', 'fr', 'it'][h % 4 + 1] AS lang,
                 CASE WHEN {hot} THEN {pick(1)} + (h // 6000) % 200 - 100
                      ELSE 3000 + (id * 7919 + 23) % 12000 END AS lat_centi,
                 CASE WHEN {hot} THEN {pick(0)} + (h // 30) % 200 - 100
                      ELSE (id * 9973 + 17) % 36000 END AS lon_centi
          FROM b
        ), t AS (
          SELECT *, 'page ' || {s('id')} || ' geo ' || {s('lat_centi')} || ' '
                    || {s('lon_centi')} || ' lang ' || lang || ' payload '
                    || md5({s('id')}) AS text
          FROM g
        )
        SELECT url, ts_sec, to_timestamp(ts_sec) AS warc_ts,
               encode('<html><head><title>p' || {s('id')} || '</title></head><body><p>'
                      || text || '</p></body></html>') AS html,
               text, lang, lat_centi, lon_centi, length(text) AS n_chars,
               id - {spec['offset']} AS ix
        FROM t
    """


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def write_pages(con, spec: dict, out_dir: str, files: int) -> None:
    """Generate the pages table once as DuckDB table ``pages`` (the
    oracles read it) and materialize it as ``files`` parquet files with
    the engine's base-relation schema (url, warc_ts, html, text, lang)."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute(f"CREATE OR REPLACE TEMP TABLE pages AS {pages_sql(spec)}")
    for k in range(files):
        con.execute(
            f"""COPY (SELECT url, warc_ts, html, text, lang FROM pages
                      WHERE hash(url) % {files} = {k})
                TO '{out_dir}/part-{k:03d}.parquet' (FORMAT PARQUET)"""
        )


def write_warc_archives(con, spec: dict, out_dir: str, rows: range, archives: int, prefix: str) -> None:
    """Write the pages with row index in ``rows`` as WARC/1.0 response
    records, one gzip member per record (the Common-Crawl layout),
    round-robin over ``archives`` files.  The benchmark's own writer, so
    the engine's parser reads archives the engine did not produce."""
    os.makedirs(out_dir, exist_ok=True)
    data = con.execute(
        f"SELECT url, ts_sec, html FROM ({pages_sql(spec)}) "
        f"WHERE ix >= {rows.start} AND ix < {rows.stop} ORDER BY ix"
    ).fetchall()
    files = [open(os.path.join(out_dir, f"{prefix}{k:03d}.warc.gz"), "wb") for k in range(archives)]
    try:
        for j, (url, ts, html) in enumerate(data):
            files[j % archives].write(gzip.compress(warc_record(url, ts, bytes(html)), mtime=0))
    finally:
        for f in files:
            f.close()


def warc_record(url: str, ts_sec: int, html: bytes) -> bytes:
    """One WARC/1.0 response record wrapping an HTTP 200 response."""
    crlf = b"\r\n"
    block = (
        b"HTTP/1.1 200 OK" + crlf + b"Content-Type: text/html" + crlf
        + b"Content-Length: " + str(len(html)).encode() + crlf + crlf + html
    )
    date = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts_sec)).encode()
    rid = hashlib.md5(url.encode()).hexdigest().encode()
    head = crlf.join([
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Record-ID: <urn:md5:" + rid + b">",
        b"WARC-Date: " + date,
        b"WARC-Target-URI: " + url.encode(),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(block)).encode(),
    ])
    return head + crlf + crlf + block + crlf + crlf


# ---------------------------------------------------------------------------
# polygons
# ---------------------------------------------------------------------------


def ngon(cx: float, cy: float, r: float, k: int, rng: random.Random) -> list:
    """A convex k-gon around (cx, cy) in degrees: vertices at jittered
    angles on a circle of radius r (convex by construction)."""
    step = 2 * math.pi / k
    angles = [j * step + rng.uniform(0, 0.6 * step) for j in range(k)]
    return [(round(cx + r * math.cos(a), 4), round(cy + r * math.sin(a), 4)) for a in angles]


def centi_to_deg(lon_centi: int, lat_centi: int) -> tuple[float, float]:
    return lon_centi / 100.0 - 180.0, lat_centi / 100.0 - 90.0


def mosaic_polygons(spec: dict, seed: int) -> list[tuple[int, list]]:
    """One convex AOI over each hotspot plus two background AOIs."""
    rng = random.Random(seed * 104729 + 3)
    polys = []
    for k, (lon_c, lat_c) in enumerate(spec["cities"]):
        cx, cy = centi_to_deg(lon_c, lat_c)
        polys.append((k + 1, ngon(cx, cy, 1.2, 8, rng)))
    for k in range(2):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 50)
        polys.append((k + 4, ngon(cx, cy, 8.0, 6, rng)))
    return polys


def square(cx: float, cy: float, r: float) -> list:
    return [(cx - r, cy - r), (cx + r, cy - r), (cx + r, cy + r), (cx - r, cy + r)]


def multi_wkt(*parts: list) -> str:
    """MULTIPOLYGON WKT of ``parts``, each a list of rings (exterior
    first, then holes)."""
    ring = lambda pts: "(" + ", ".join(f"{x:.4f} {y:.4f}" for x, y in pts + pts[:1]) + ")"  # noqa: E731
    return "MULTIPOLYGON (" + ", ".join(
        "(" + ", ".join(ring(r) for r in part) + ")" for part in parts
    ) + ")"


def register_polygons(con, name: str, polys) -> None:
    """Store ``(poly_id, geom)`` pairs as DuckDB table ``name`` with the
    engine's own normalized rings (CCW, closing vertex dropped): the
    convex exterior arrays and the all-rings arrays."""
    from eodal_spark import geometry

    rows = []
    for pid, geom in polys:
        rings = [geometry._clean_ring(r) for part in geometry._as_parts(geom) for r in part]
        convex = len(rings) == 1 and bool(geometry._is_convex(*rings[0]))
        rows.append(
            f"({int(pid)}, {convex}, CAST({rings[0][0].tolist()} AS DOUBLE[]), "
            f"CAST({rings[0][1].tolist()} AS DOUBLE[]), "
            f"CAST({[r[0].tolist() for r in rings]} AS DOUBLE[][]), "
            f"CAST({[r[1].tolist() for r in rings]} AS DOUBLE[][]))"
        )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT * FROM (VALUES {', '.join(rows)}) "
        "t(poly_id, is_convex, xs, ys, rings_x, rings_y)"
    )


def pip_sql(alias: str, lon: str, lat: str) -> str:
    """The engine's exact-rule membership against a polygon table made
    by `register_polygons`, from the engine's `geometry.sql_pip_*`
    oracle builders: min-cross for convex rings, even-odd otherwise.
    (Array columns, not per-row literals: DuckDB evaluates the list
    lambdas ~100x faster that way.)"""
    from eodal_spark import geometry

    convex = geometry.sql_pip_convex(lon, lat, f"{alias}.xs", f"{alias}.ys", "duckdb")
    rings = geometry.sql_pip_even_odd_rings(
        lon, lat, f"{alias}.rings_x", f"{alias}.rings_y", "duckdb"
    )
    return f"(CASE WHEN {alias}.is_convex THEN {convex} ELSE {rings} END)"


# ---------------------------------------------------------------------------
# digests
# ---------------------------------------------------------------------------


def digest_sql(con, query: str, cols: tuple[str, ...]) -> str:
    """Order-free digest of ``cols`` over the rows of ``query``,
    computed inside DuckDB: the row count and the sum (mod 2^64) of
    DuckDB's per-row hash, so a duplicated row changes it as surely as
    a missing or altered one.  Compare it only with another
    `digest_sql` over columns of the same types."""
    n, acc = con.execute(
        f"""SELECT count(*),
                   CAST(coalesce(sum(CAST(hash({', '.join(cols)}) AS HUGEINT)), 0)
                        % 18446744073709551616 AS UBIGINT)
            FROM ({query})"""
    ).fetchone()
    return f"{n}:{acc:016x}"

