"""ingest_query: a catalog node that lands the next crawl batch and
serves interactive queries, one after the other.

One op is
  1. the ingest pass: WARC archives landed in setup → `stream_warc` →
     `geocode` → `drain_to_catalog` appends (cell-sorted) into a fresh
     table, then an incremental drain of late arrivals on the same
     checkpoint;
  2. a query round over the published catalog (`aoi.QueryRounds`: an
     exact-rule AOI join with zonal stats, a kNN and a url lookup).

Each pass starts on a fresh checkpoint and table; the reset happens
outside the timed region.  The landed table is checked for row count,
url-set digest and exactly-once (no url twice); every query answer is
checked against DuckDB.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import urlparse

import __spark_entry__ as E
import inputs as I
from aoi import QueryRounds

N_PAGES = 5_000
LATE_PAGES = 1_000  # the last ids land after the first drain
ARCHIVES = 8
LATE_ARCHIVES = 2
CATALOG_FILES = 4
TABLE = "pages"


class IngestQuery:
    name = "ingest_query"
    # the first measured op still costs ~30% more processor time than
    # later ones, while the JIT compiles; the median of three leaves it
    # out, where one more warm-up op would not fit the run budget
    WARMUP_OPS = 1
    MIN_OPS = 3

    def __init__(self, seed: int, work: str):
        self.spec = I.pages_spec(N_PAGES, seed)
        self.rows_in = N_PAGES
        self.ckpt = os.path.join(work, "ingest_ckpt")
        self.cat_root = os.path.join(work, "ingest_catalog")
        self.queries = QueryRounds(seed)
        self.query_durs = self.queries.query_durs

    # -- setup ---------------------------------------------------------------
    def materialize(self, spark, con, d: str) -> None:
        self.land = os.path.join(d, "landing")
        self.late = os.path.join(d, "late")
        early = N_PAGES - LATE_PAGES
        I.write_warc_archives(con, self.spec, self.land, range(0, early), ARCHIVES, "crawl-")
        I.write_warc_archives(con, self.spec, self.late, range(early, N_PAGES), LATE_ARCHIVES, "late-")
        self.late_files = sorted(os.listdir(self.late))
        self.queries.materialize(con, d)

    def build(self, spark) -> None:
        self.queries.build(spark)

    def prepare(self, spark, con) -> None:
        self.expected = I.digest_sql(con, f"SELECT url FROM ({I.pages_sql(self.spec)})", ("url",))
        self.con = con
        self.warc_bytes = sum(
            os.path.getsize(os.path.join(dd, f))
            for dd in (self.land, self.late) for f in os.listdir(dd)
        )
        self.queries.prepare(spark, con)

    # -- the op ------------------------------------------------------------------
    def reset(self) -> None:
        from eodal_spark.sources.catalog import SnapshotCatalog

        for f in self.late_files:
            if os.path.exists(os.path.join(self.land, f)):
                os.replace(os.path.join(self.land, f), os.path.join(self.late, f))
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.rmtree(self.cat_root, ignore_errors=True)
        self.cat = SnapshotCatalog(self.cat_root)

    def land_late(self) -> None:
        for f in self.late_files:
            os.replace(os.path.join(self.late, f), os.path.join(self.land, f))

    def drain(self, spark, tr) -> None:
        from eodal_spark.sources import pages as P
        from eodal_spark.sources import warc as W
        from eodal_spark.streaming.ingest import drain_to_catalog

        with tr.span("warc.stream.call"):
            stream = W.stream_warc(spark, self.land)
        with tr.span("pages.geocode.call"):
            geo = P.geocode(stream, E.RES).select(
                "url", "warc_ts", "cell_id", "lat_centi", "lon_centi"
            )
        with tr.span("streaming.drain.call"):
            drain_to_catalog(
                geo, self.ckpt, self.cat, TABLE, sort_by=("cell_id",), n_files=CATALOG_FILES
            )

    def ingest(self, spark, tr) -> float:
        """The ingest pass → its timed seconds: the two drains, not the
        reset."""
        self.reset()
        t0 = time.perf_counter()
        with tr.span("drain.initial"):
            self.drain(spark, tr)
        t1 = time.perf_counter()
        self.land_late()
        t2 = time.perf_counter()
        with tr.span("drain.late"):
            self.drain(spark, tr)
        return (t1 - t0) + (time.perf_counter() - t2)

    def op(self, spark, tr) -> float:
        """Returns the timed seconds: the ingest pass and the query
        round."""
        ingest_s = self.ingest(spark, tr)
        t0 = time.perf_counter()
        with tr.span("queries"):
            self.queries.round(spark, tr)
        self.parts = {"ingest_s": ingest_s, "round_s": time.perf_counter() - t0}
        return ingest_s + self.parts["round_s"]

    def check(self, spark) -> bool:
        """DuckDB reads the files the table's current snapshot lists: a
        batch committed twice would list its files twice."""
        files = [urlparse(f).path for f in self.cat.read(spark, TABLE).inputFiles()]
        landed = f"SELECT url FROM read_parquet({files})"
        n, distinct = self.con.execute(f"SELECT count(*), count(DISTINCT url) FROM ({landed})").fetchone()
        return (n == distinct and I.digest_sql(self.con, landed, ("url",)) == self.expected
                and self.queries.check())

    def table_stats(self) -> dict:
        """Bytes the last pass left in the catalog, per landed WARC byte."""
        table_dir = os.path.join(self.cat_root, TABLE)
        manifest = os.path.getsize(os.path.join(table_dir, "manifest.json"))
        data = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(table_dir) for f in fs if f.endswith(".parquet")
        )
        return {
            "catalog.manifest_bytes": manifest,
            "catalog.write_amp": (data + manifest) / self.warc_bytes,
            "streaming.batches": len(self.cat.snapshots(TABLE)),
        }

    def report(self) -> dict:
        return {"write_amp": (self.table_stats()["catalog.write_amp"], "bytes/byte")}

    # -- traced op ---------------------------------------------------------------
    def traced_op(self, spark, tr) -> dict:
        from eodal_spark.sources import pages as P
        from eodal_spark.sources import warc as W

        def parsed():
            return W.read_warc(spark, self.land).unionByName(W.read_warc(spark, self.late))

        walls = {}
        with tr.span("prefix.warc.parse") as s:
            parsed().write.format("noop").mode("overwrite").save()
        walls["parse"] = s["end"] - s["start"]
        with tr.span("prefix.pages.geocode") as s:
            P.geocode(parsed(), E.RES).select(
                "url", "warc_ts", "cell_id", "lat_centi", "lon_centi"
            ).write.format("noop").mode("overwrite").save()
        walls["geocode"] = s["end"] - s["start"]
        with tr.span("full"):
            self.op(spark, tr)
        return {
            "warc.parse_s": walls["parse"],
            "pages.geocode_s": walls["geocode"] - walls["parse"],
            "catalog.write_s": self.parts["ingest_s"] - walls["geocode"],
            **self.table_stats(),
            **self.queries.figures(),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.rmtree(self.cat_root, ignore_errors=True)
