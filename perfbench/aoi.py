"""The interactive half of `ingest_query`: one client in a closed loop
over a cell-sorted `SnapshotCatalog` table with url blooms.  The next
query is sent only after the previous one returned.

A round is three queries in seeded order:
  * aoi     — manifest-pruned scan, exact-rule `spatial_join` against two
              AOIs, `zonal_stats` per AOI: a convex AOI, and a two-part
              AOI whose first part has a hole;
  * knn     — `knn` (ring ladder on the stored cell_id), k = 5;
  * lookup  — url point lookup through `catalog.scan(eq=)` (url blooms).
Each answer is checked against DuckDB over the generated table.  Every
round has the same kinds of query and shape, so runs of different
seeds do about the same work.
"""

from __future__ import annotations

import os
import random
import time

import __spark_entry__ as E
import inputs as I

N_PAGES = 30_000
CATALOG_FILES = 8
N_ROUNDS = 100  # more than a run issues; consumed in order
K = 5
ROUND_MIX = ("aoi", "knn", "lookup")  # shuffled per round
TABLE = "pages"


class QueryRounds:
    def __init__(self, seed: int):
        self.spec = I.pages_spec(N_PAGES, seed)
        self.rounds = make_rounds(self.spec, seed)
        self.next_round = 0
        self.last: list[dict] = []  # the last round's queries and answers
        self.query_durs: list[tuple[str, float]] = []  # (type, seconds) per query

    # -- setup ---------------------------------------------------------------
    def materialize(self, con, d: str) -> None:
        """Geocoded rows for the catalog: DuckDB computes the cell ids
        with the engine's own encode SQL."""
        self.src = os.path.join(d, "geo")
        os.makedirs(self.src)
        con.execute(
            f"""COPY (SELECT url, warc_ts, {E._duck_cell(E.RES)} AS cell_id, lat_centi, lon_centi,
                             lat_centi / 100.0 - 90.0 AS lat, lon_centi / 100.0 - 180.0 AS lon, n_chars
                      FROM ({I.pages_sql(self.spec)}))
                TO '{self.src}/part-0.parquet' (FORMAT PARQUET)"""
        )

    def build(self, spark) -> None:
        """The engine writes the catalog table once: sorted by cell_id,
        url blooms."""
        from eodal_spark.sources.catalog import SnapshotCatalog

        self.cat = SnapshotCatalog(os.path.join(os.path.dirname(self.src), "catalog"))
        self.cat.write(
            spark.read.parquet(self.src), TABLE, sort_by=("cell_id",), n_files=CATALOG_FILES,
            bloom_cols=("url",),
        )

    def prepare(self, spark, con) -> None:
        con.execute(f"CREATE OR REPLACE TEMP TABLE catalog_pages AS {I.pages_sql(self.spec)}")
        self.con = con
        self.total_files = len(self.cat.read(spark, TABLE).inputFiles())

    # -- one round ---------------------------------------------------------------
    def round(self, spark, tr) -> None:
        qs = self.rounds[self.next_round % len(self.rounds)]
        self.next_round += 1
        self.last = []
        for q in qs:
            res = {"q": q}
            t0 = time.perf_counter()
            with tr.span("query." + q["type"]):
                res["got"] = getattr(self, "_" + q["type"])(spark, tr, q, res)
            self.query_durs.append((q["type"], time.perf_counter() - t0))
            self.last.append(res)

    def _aoi(self, spark, tr, q, res):
        from eodal_spark import geometry
        from eodal_spark.operators import spatial_join as SJ
        from eodal_spark.operators import zonal as Z

        with tr.span("geometry.call"):
            res["polys"] = geometry.polygons_df(spark, q["polys"])
        with tr.span("catalog.scan"):
            res["scanned"] = pages = self.cat.scan(spark, TABLE, {"cell_id": q["ranges"]})
        with tr.span("spatial_join.call"):
            joined = SJ.spatial_join(
                pages, res["polys"], E.JOIN_RES, rule="exact",
                page_cols=("url", "n_chars"), page_res=E.RES,
            )
        with tr.span("zonal.call"):
            stats = Z.zonal_stats(joined, "n_chars", stats=("count", "min", "max", "sum"))
        with tr.span("action"):
            rows = stats.collect()
        return sorted(
            (r["poly_id"], r["cnt"], r["min_v"], r["max_v"], int(r["sum_v"])) for r in rows
        )

    def _knn(self, spark, tr, q, res):
        from eodal_spark.operators import knn as KNN

        with tr.span("catalog.read"):
            pages = self.cat.read(spark, TABLE)
        qdf = spark.createDataFrame(
            [(1, q["lat_centi"], q["lon_centi"])], "query_id long, lat_centi long, lon_centi long"
        )
        with tr.span("knn.call"):
            res = KNN.knn(qdf, pages, E.RES, k=K)
        with tr.span("action"):
            rows = res.collect()
        return sorted((r["rank"], r["url"], r["sqdist"]) for r in rows)

    def _lookup(self, spark, tr, q, res):
        with tr.span("catalog.scan"):
            res["scanned"] = pages = self.cat.scan(spark, TABLE, eq={"url": q["url"]})
        with tr.span("action"):
            rows = pages.select("url", "cell_id").collect()
        return sorted((r["url"], r["cell_id"]) for r in rows)

    # -- correctness -----------------------------------------------------------
    def check(self) -> bool:
        return all(r["got"] == self.expected(r["q"]) for r in self.last)

    def expected(self, q) -> list:
        con = self.con
        if q["type"] == "aoi":
            lon, lat = "(lon_centi / 100.0 - 180.0)", "(lat_centi / 100.0 - 90.0)"
            I.register_polygons(con, "aoi", q["polys"])
            return sorted(con.execute(
                f"""SELECT aoi.poly_id, count(*), min(n_chars), max(n_chars),
                           CAST(sum(n_chars) AS BIGINT)
                    FROM catalog_pages, aoi WHERE {I.pip_sql("aoi", lon, lat)}
                    GROUP BY aoi.poly_id"""
            ).fetchall())
        if q["type"] == "knn":
            dlon = f"least(abs(lon_centi - {q['lon_centi']}), 36000 - abs(lon_centi - {q['lon_centi']}))"
            rows = con.execute(
                f"""SELECT rank, url, sqdist FROM (
                      SELECT url, sqdist, row_number() OVER (ORDER BY sqdist, url) AS rank
                      FROM (SELECT url, (lat_centi - {q['lat_centi']}) * (lat_centi - {q['lat_centi']})
                                        + {dlon} * {dlon} AS sqdist FROM catalog_pages))
                    WHERE rank <= {K}"""
            ).fetchall()
            return sorted(rows)
        cell = E._duck_cell(E.RES)
        return sorted(
            con.execute(f"SELECT url, {cell} FROM catalog_pages WHERE url = ?", [q["url"]]).fetchall()
        )

    # -- traced figures ----------------------------------------------------------
    def figures(self) -> dict:
        """Pruning and refine figures of the last round's scans and join
        (computed after the round, outside its spans)."""
        kept = [len(r["scanned"].inputFiles()) for r in self.last if "scanned" in r]
        aoi = next(r for r in self.last if r["q"]["type"] == "aoi")
        return {
            "catalog.files_kept_ratio": sum(kept) / (len(kept) * self.total_files),
            "spatial_join.refine_yield": (
                sum(row[1] for row in aoi["got"]) / max(1, self._candidates(aoi))
            ),
        }

    def _candidates(self, res) -> int:
        """Rows the bbox cover admits before the exact refine."""
        from pyspark.sql import functions as F

        from eodal_spark import geometry, grid

        cover = geometry.polygon_cover_cells(res["polys"], E.JOIN_RES, mode="bbox")
        pages = res["scanned"].withColumn("_jc", grid.cell_parent("cell_id", E.RES, E.JOIN_RES))
        return pages.join(
            F.broadcast(cover.select("poly_id", F.col("cell_id").alias("_jc"))), "_jc"
        ).count()


def make_rounds(spec: dict, seed: int) -> list[list[dict]]:
    """The seeded query sequence: rounds of ROUND_MIX in shuffled order.
    AOIs and kNN points sit near a hotspot (dense)."""
    rng = random.Random(seed * 1299709 + 11)
    rounds = []
    for _ in range(N_ROUNDS):
        kinds = list(ROUND_MIX)
        rng.shuffle(kinds)
        rounds.append([make_query(kind, spec, rng) for kind in kinds])
    return rounds


def near_hotspot(spec: dict, rng: random.Random) -> tuple[float, float]:
    lon_c, lat_c = rng.choice(spec["cities"])
    return I.centi_to_deg(lon_c + rng.randint(-80, 80), lat_c + rng.randint(-80, 80))


def make_query(kind: str, spec: dict, rng: random.Random) -> dict:
    if kind == "aoi":
        cx, cy = near_hotspot(spec, rng)
        convex = I.ngon(cx, cy, rng.uniform(0.4, 0.8), rng.randint(5, 8), rng)
        cx, cy = near_hotspot(spec, rng)
        r = rng.uniform(0.3, 0.5)
        holed_multi = I.multi_wkt(
            [I.square(cx - r, cy, r), I.square(cx - r, cy, r / 2)],
            [I.ngon(cx + 1.5 * r, cy, r / 2, 6, rng)],
        )
        return {
            "type": "aoi",
            "polys": [(1, convex), (2, holed_multi)],
            "ranges": bbox_ranges(convex) + bbox_ranges(holed_multi),
        }
    if kind == "knn":
        cx, cy = near_hotspot(spec, rng)
        return {"type": "knn", "lon_centi": round((cx + 180) * 100), "lat_centi": round((cy + 90) * 100)}
    if rng.random() < 0.8:
        i = spec["offset"] + rng.randrange(spec["n"])
        url = f"https://site{(i * 2654435761 % 2147483648) % 1000}.example/p/{i}"
    else:
        url = f"https://absent{rng.randrange(1000)}.example/p/{rng.randrange(10**9)}"
    return {"type": "lookup", "url": url}


def bbox_ranges(geom) -> list[tuple[int, int]]:
    """cell_id ranges covering the geometry's bbox at the page
    resolution: one y-strip per x column (cell ids are x-major), or one
    span over all columns when that would take more than 64 ranges."""
    from eodal_spark import geometry, grid

    pts = [p for part in geometry._as_parts(geom) for ring in part for p in ring]
    corner = lambda lon, lat: int(  # noqa: E731
        grid.np_bbox_cells_centi(lon, lon + 1, lat, lat + 1, E.RES)[0]
    )
    lo = corner(int((min(p[0] for p in pts) + 180) * 100), int((min(p[1] for p in pts) + 90) * 100))
    hi = corner(int((max(p[0] for p in pts) + 180) * 100) + 1, int((max(p[1] for p in pts) + 90) * 100) + 1)
    step = 1 << grid._X_SHIFT
    cols = (hi - lo) // step + 1
    if cols > 64:
        return [(lo, hi)]
    height = (hi - lo) % step
    return [(lo + k * step, lo + k * step + height) for k in range(cols)]
