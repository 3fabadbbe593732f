"""Capture .explain("formatted") for a list of declared queries into
plans/<tag>/<query>_<suffix>.txt  (guide §1: record the plan shape
before and after each optimization).

Session counters (expression ids ``#12``, ``plan_id=3``, ``RDD[7]``) and
the random parts of file paths (part-file UUIDs, the 8-hex suffix of a
catalog commit dir ``v12-ab34cd56``) are stripped before writing, so
``diff -r`` of two captures of the same plan is empty.

The catalog-backed queries build their tables under the temp dir and
reuse them when present; each run points the temp dir at a fixed root
it wipes first, so every capture builds its tables fresh from the
checked-out code while the paths in the plans stay the same.

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from eodal_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TMP_ROOT = os.path.join(tempfile.gettempdir(), "eodal_spark_plan_capture")

_VOLATILE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\b(v\d+)-[0-9a-f]{8}\b"), r"\1-<id>"),
]


def normalize(plan: str) -> str:
    """``plan`` with the session's id counters and random path parts
    blanked out."""
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(TMP_ROOT, ignore_errors=True)
    os.makedirs(TMP_ROOT)
    tempfile.tempdir = TMP_ROOT
    spark = get_spark("plan_capture", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(normalize(buf.getvalue()))
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
