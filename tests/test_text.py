"""Text-analysis operators over the driver's documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import text as TX


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "der hund und die katze ist nicht da"),
            (3, "le chat et la mer est belle"),
            (4, "xyzzy plugh 12345"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r["g"] for r in df.select("id", TX.lang_id(F.col("text")).alias("g")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "a b  c\td"), (2, "hello, world!")], ["id", "text"])
    rows = {r["id"]: r for r in df.select(
        "id",
        TX.token_count(F.col("text")).alias("tok"),
        TX.bpe_ish_token_count(F.col("text")).alias("sub"),
    ).collect()}
    assert rows[1]["tok"] == 4
    assert rows[2]["tok"] == 2
    assert rows[2]["sub"] == 4  # hello , world !


def test_quality_and_ratios(spark):
    good = "the quick brown fox jumps over the lazy dog and runs away"
    bad = "!!! ??? ,,, ;;;"
    df = spark.createDataFrame([(1, good), (2, bad)], ["id", "text"])
    rows = {r["id"]: r for r in df.select(
        "id",
        TX.punct_ratio_milli(F.col("text")).alias("p"),
        TX.quality_score_milli(F.col("text")).alias("q"),
    ).collect()}
    assert rows[1]["q"] == 1000
    assert rows[2]["p"] > 300 and rows[2]["q"] < 400


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnopq"), (3, "zzzzzzzz")],
        ["id", "text"],
    )
    rows = {r["id"]: r["fp"] for r in df.select("id", TX.fingerprint(F.col("text")).alias("fp")).collect()}
    assert rows[1] == rows[2]  # append-robust: shared min window survives
    assert rows[1] != rows[3]


def test_hash_sample_monotone_and_partition_stable(spark):
    """The 5% sample is a subset of the 20% sample, and repartitioning
    never changes membership — the reproducibility contract seeded
    rand() sampling cannot give."""
    from eodal_spark.operators import text as TX

    docs = spark.range(5_000).selectExpr("CAST(id AS STRING) AS key")
    s5 = {r.key for r in TX.hash_sample(docs, "key", 50).collect()}
    s20 = {r.key for r in TX.hash_sample(docs, "key", 200).collect()}
    assert s5 and s5 < s20
    # ~rate within tolerance
    assert abs(len(s20) / 5_000 - 0.2) < 0.03
    rep = {
        r.key
        for r in TX.hash_sample(docs.repartition(17), "key", 200).collect()
    }
    assert rep == s20


def test_hash_sample_filter_is_native(spark):
    from eodal_spark.operators import text as TX

    docs = spark.range(100).selectExpr("CAST(id AS STRING) AS key")
    plan = (
        TX.hash_sample(docs, "key", 100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_repetition_signals_match_python_reference(spark):
    """Gopher-style repetition signals vs a direct Python reference —
    per-mille integer arithmetic must agree exactly (the same contract
    the DuckDB oracle then re-proves cross-engine)."""
    import re
    from collections import Counter

    texts = [
        "a\nb\na\nc",
        "word word word word word",
        "- item one\n- item two\nplain line\ntrails off...",
        "",
        " ",
        "x",
        "one two one two one two three",
        "same\nsame\nsame\nsame",
        "* bullet\n* bullet\nnormal",
        "alpha beta gamma delta epsilon zeta",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in TX.repetition_signals(df).orderBy("doc_id").collect()
    }

    def ref(t):
        lines = t.split("\n")
        nl, ndl = len(lines), len(set(lines))
        dup_line = 0 if nl <= 0 else ((nl - ndl) * 1000) // nl
        c = Counter(lines)
        dup_chars = sum(len(x) for x in lines if c[x] > 1)
        dup_char = (dup_chars * 1000) // max(len(t), 1)
        words = [w for w in re.split(r"\s+", t) if w]
        top = 0
        if len(words) >= 2:
            gc = Counter(
                words[i] + " " + words[i + 1] for i in range(len(words) - 1)
            )
            gm = max(cnt * len(g) for g, cnt in gc.items())
            top = (gm * 1000) // max(len(t), 1)
        bh = sum(
            1
            for x in lines
            if x.startswith(("-", "*")) or x.endswith("...")
        )
        be = 0 if nl <= 0 else (bh * 1000) // nl
        return dup_line, dup_char, top, be

    for i, t in enumerate(texts):
        dl, dc, tg, be = ref(t)
        r = got[i]
        assert r["dup_line_milli"] == dl, (i, t)
        assert r["dup_line_char_milli"] == dc, (i, t)
        assert r["top2gram_milli"] == tg, (i, t)
        assert r["bullet_ellipsis_milli"] == be, (i, t)
        assert r["repetition_ok"] == (
            dl < 300 and dc < 200 and tg < 200 and be < 900
        )


@pytest.mark.parametrize("col", ["_rl", "_rw", "_rg", "_RGS"])
def test_repetition_signals_rejects_staging_column_names(spark, col):
    """A caller's column named like a staging column would be dropped
    from the output; the operator refuses it instead."""
    df = spark.createDataFrame([(1, "a b", 7)], f"doc_id long, text string, {col} int")
    with pytest.raises(ValueError, match=col):
        TX.repetition_signals(df)


def test_scrub_boilerplate_lines(spark):
    """Corpus-level line dedup: a >=10-char line appearing in >=2
    distinct docs vanishes everywhere (order preserved); short lines
    and doc-internal repeats survive; a doc losing every line becomes
    empty but keeps its row."""
    docs = spark.createDataFrame(
        [
            (1, "unique alpha content\ncopyright acme corporation\nmore body"),
            (2, "different beta text\ncopyright acme corporation"),
            (3, "copyright acme corporation"),
            (4, "short\nshort\nunique gamma content here"),
            (5, ""),
            (6, "repeated inside doc only\nrepeated inside doc only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.scrub_boilerplate_lines(docs).collect()
    }
    assert out[1]["text"] == "unique alpha content\nmore body"
    assert out[1]["n_removed"] == 1
    assert out[2]["text"] == "different beta text"
    assert out[3]["text"] == "" and out[3]["n_removed"] == 1
    # 'short' (<10 chars) repeats across docs 4's own lines — kept
    assert out[4]["text"] == "short\nshort\nunique gamma content here"
    assert out[4]["n_removed"] == 0
    assert out[5]["text"] == "" and out[5]["n_removed"] == 0
    # doc-internal repetition is NOT corpus boilerplate (1 distinct doc)
    assert out[6]["text"] == "repeated inside doc only\nrepeated inside doc only"
    assert len(out) == 6


def test_decontaminate_flag_drop_hashed_agree(spark):
    """Known overlaps: doc 1 shares the 3-gram 'the quick brown' with
    the benchmark, doc 2 shares none, doc 3 is too short to have a
    3-gram, doc 4 shares one only modulo case.  flag/drop/hashed
    paths must agree; empty benchmark flags nothing."""
    train = spark.createDataFrame(
        [
            (1, "see the quick brown animal leap"),
            (2, "completely unrelated text body here"),
            (3, "two words"),
            (4, "THE QUICK BROWN fox again"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], "doc_id long, text string"
    )
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in TX.decontaminate(train, bench, n=3).collect()
    }
    assert flags == {1: 1, 2: 0, 3: 0, 4: 1}
    kept = {
        r["doc_id"]
        for r in TX.decontaminate(train, bench, n=3, mode="drop").collect()
    }
    assert kept == {2, 3}
    hflags = {
        r["doc_id"]: r["contaminated"]
        for r in TX.decontaminate(train, bench, n=3, hashed=True).collect()
    }
    assert hflags == flags
    empty_bench = bench.filter("doc_id < 0")
    assert {
        r["contaminated"]
        for r in TX.decontaminate(train, empty_bench, n=3).collect()
    } == {0}
    with pytest.raises(ValueError):
        TX.decontaminate(train, bench, mode="purge")


def test_decontaminate_plan_is_native_and_broadcast(spark):
    """The n-gram machinery must stay whole-stage-codegen native (no
    Python UDF / BatchEvalPython) and the benchmark side must join as
    a broadcast."""
    train = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon word"),
                 F.col("id").cast("string")).alias("text"),
    )
    bench = spark.range(0, 3).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta").alias("text"),
    )
    plan = (
        TX.decontaminate(train, bench, n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan
    # the benchmark side MUST plan as a broadcast hash join (the corpus
    # side never shuffles) — and never as a nested-loop product
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan


def test_pii_scrub_modes_and_ordering(spark):
    import eodal_spark.operators.text as TX

    df = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or +12345678 today"),
            (2, "server at 10.0.0.1 and 192.168.1.255 up"),
            (3, "login user@10.0.0.1 now"),   # email SUBSUMES the ip
            (4, "clean document with no identifiers"),
            (5, "a@b.com c@d.org 1.2.3.4 +99999999"),
        ],
        "doc_id bigint, text string",
    )
    red = {r["doc_id"]: r for r in TX.scrub_pii(df, mode="redact").collect()}
    assert red[1]["n_email"] == 1 and red[1]["n_phone"] == 1
    assert red[1]["text"] == "contact me at <EMAIL> or <PHONE> today"
    assert red[2]["n_ipv4"] == 2
    assert red[2]["text"] == "server at <IP> and <IP> up"
    # ordering contract: the email pattern eats "user@10.0.0.1" whole,
    # so no <IP> sentinel appears inside the redaction
    assert red[3]["text"] == "login <EMAIL> now"
    assert red[4]["pii_total"] == 0 and red[4]["text"].startswith("clean")
    assert red[5]["pii_total"] == 4
    assert (
        red[5]["text"] == "<EMAIL> <EMAIL> <IP> <PHONE>"
    )
    # drop mode: any PII drops the doc at max_total=0
    kept = TX.scrub_pii(df, mode="drop", max_total=0)
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [4]
    # flag mode keeps text untouched
    flag = {r["doc_id"]: r for r in TX.scrub_pii(df, mode="flag").collect()}
    assert flag[1]["text"].startswith("contact me at alice@")
    with pytest.raises(ValueError):
        TX.scrub_pii(df, mode="nope")


def test_pii_scrub_plan_is_native(spark):
    import eodal_spark.operators.text as TX

    df = spark.createDataFrame([(1, "x@y.com")], "doc_id bigint, text string")
    plan = (
        TX.scrub_pii(df, mode="redact")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan
    assert "Exchange" not in plan  # one pass, no shuffle


def test_stratified_hash_sample_properties(spark, pages_small):
    """Per-stratum slice ≡ hash_sample at that stratum's rate (the
    consistency guarantee), default applies to unlisted strata, and
    raising one stratum's rate never changes another's sample."""
    from pyspark.sql import functions as F

    from eodal_spark.operators import text as TX

    df = pages_small.select("url", "lang")
    rates = {"en": 400, "de": 100}
    out = TX.stratified_hash_sample(df, "url", "lang", rates, default_milli=0)
    got_en = {r.url for r in out.filter("lang = 'en'").collect()}
    want_en = {
        r.url
        for r in TX.hash_sample(df.filter("lang = 'en'"), "url", 400).collect()
    }
    assert got_en == want_en
    # unlisted strata fall to default (0 ⇒ dropped entirely)
    assert out.filter("lang NOT IN ('en','de')").count() == 0
    # cross-stratum independence: bumping de leaves en untouched
    out2 = TX.stratified_hash_sample(
        df, "url", "lang", {"en": 400, "de": 900}, default_milli=0
    )
    assert {r.url for r in out2.filter("lang = 'en'").collect()} == got_en
    # monotone per stratum
    de_lo = {r.url for r in out.filter("lang = 'de'").collect()}
    de_hi = {r.url for r in out2.filter("lang = 'de'").collect()}
    assert de_lo < de_hi


def test_chunk_tokens_windows_and_tail(spark):
    import pytest as _pytest

    from eodal_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5"),   # size 4 overlap 1 -> [1..4], [4..5]
            (2, "a b c"),            # shorter than size -> one chunk
            (3, ""),                 # empty -> no chunks
            (4, "  x  "),            # whitespace mess -> one 1-token chunk
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk)
        for r in chunk_tokens(df, size=4, overlap=1).collect()
    )
    assert out == [
        (1, 0, 4, "w1 w2 w3 w4"),
        (1, 1, 2, "w4 w5"),
        (2, 0, 3, "a b c"),
        (4, 0, 1, "x"),
    ]
    # no-overlap exact tiling: 6 tokens / size 2 -> 3 chunks
    df2 = spark.createDataFrame([(9, "a b c d e f")], ["doc_id", "text"])
    got = [r.chunk for r in chunk_tokens(df2, size=2).orderBy("chunk_id").collect()]
    assert got == ["a b", "c d", "e f"]
    # a chunk fully contained in the previous one is never emitted
    df3 = spark.createDataFrame([(9, "a b c d")], ["doc_id", "text"])
    assert chunk_tokens(df3, size=3, overlap=2).count() == 2  # [a b c], [b c d]
    with _pytest.raises(ValueError):
        chunk_tokens(df, size=4, overlap=4)


def test_chunk_tokens_plan_is_native(spark):
    from eodal_spark.operators.text import chunk_tokens

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = (
        chunk_tokens(df, size=2, overlap=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # flatMap only - no shuffle


def test_cap_per_key_quota_and_determinism(spark):
    import pytest as _pytest

    from eodal_spark.operators.text import cap_per_key

    rows = [(f"h{i % 3}", f"u{j:03d}_{i % 3}") for i in range(3) for j in range(20)]
    # one mega-key: h0 gets 200 extra rows
    rows += [("h0", f"z{j:03d}") for j in range(200)]
    df = spark.createDataFrame(rows, ["host", "url"])
    out = cap_per_key(df, "host", 5, ["url"])
    got = {}
    for r in out.collect():
        got.setdefault(r.host, []).append(r.url)
    assert all(len(v) == 5 for v in got.values())
    # the winners are exactly the 5 smallest urls per host (total order)
    want_h1 = sorted(u for h, u in rows if h == "h1")[:5]
    assert sorted(got["h1"]) == want_h1
    want_h0 = sorted(u for h, u in rows if h == "h0")[:5]
    assert sorted(got["h0"]) == want_h0
    # partitioning-invariant
    again = cap_per_key(df.repartition(13), "host", 5, ["url"])
    assert {(r.host, r.url) for r in again.collect()} == {
        (h, u) for h, us in got.items() for u in us
    }
    with _pytest.raises(ValueError):
        cap_per_key(df, "host", 0, ["url"])


def test_cap_per_key_splits_hot_key_plan(spark):
    from eodal_spark.operators.text import cap_per_key

    df = spark.createDataFrame([("h", "u1"), ("h", "u2")], ["host", "url"])
    plan = (
        cap_per_key(df, "host", 1, ["url"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # two window phases: (key, salt) then key
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2
