"""Text analysis for training-data pipelines over the documents table.

Spark-first: every function is a native Column expression (codegen) —
language ID, quality scoring, token counting, fingerprinting.  These are
the web-text analogues of the reference's per-band derived metrics
(spectral indices, `eodal/core/spectral_indices.py`): named, registry-
dispatched column derivations over the base relation.

Numeric policy: all scores are integer or decimal arithmetic so the
DuckDB oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny marker-word inventories (public-knowledge stopwords)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "it": ["il", "che", "di", "non", "una"],
}


def _count_words(text: Column, words: list[str]) -> Column:
    """Total occurrences of a set of whole words in ONE regexp pass.

    Equal to the per-word sum: \\b-delimited matches of distinct words
    are disjoint spans, so the alternation counts each hit exactly
    once — but the text is lowered and scanned once instead of once
    per word (5 marker words × 4 languages was 20 regexp passes per
    row in lang_id)."""
    pat = r"\b(?:" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: _count_words(text, words)
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """N-gram/stopword-heuristic language ID: argmax marker count,
    deterministic tie-break by language code; 'und' (undetermined) when
    no marker hits."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    best = F.array_max(
        F.transform(
            pairs,
            # invert lang ordering inside the struct comparison so ties pick
            # the alphabetically-first language under array_max
            lambda p: F.struct(
                p["score"].alias("score"),
                (-F.ascii(p["lang"])).alias("tiebreak"),
                p["lang"].alias("lang"),
            ),
        )
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace tokenization count — native, no UDF.

    Empty/whitespace-only text counts 0 tokens (split('') yields ['']
    — size 1 — without the guard, making empty docs indistinguishable
    from one-word docs and disagreeing with the regexp-count oracle)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: words + digits + punctuation runs counted
    separately (a deterministic stand-in for a real tokenizer)."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer (floor) division for non-negative operands — the
    cross-engine-safe ratio: double-divide + cast('long') TRUNCATES in
    Spark while DuckDB's CAST(double AS BIGINT) ROUNDS half-even, so the
    two disagree on any fraction ≥ .5; a - pmod(a, b) is an exact
    multiple of b (≤ 2^53 here), so the division is exact in both."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def punct_ratio_milli(text: Column) -> Column:
    """Punctuation chars per 1000 chars (integer div — oracle-exact)."""
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    return _idiv(n_punct * 1000, F.greatest(F.length(text), F.lit(1)))


def stopword_ratio_milli(text: Column) -> Column:
    """English stopword tokens per 1000 tokens (integer div)."""
    hits = _count_words(text, LANG_MARKERS["en"])
    return _idiv(hits * 1000, F.greatest(token_count(text), F.lit(1)))


def quality_score_milli(text: Column) -> Column:
    """Composite quality in [0, 1000]: length band + low punctuation +
    stopword presence.  Deterministic integer arithmetic."""
    length_ok = (F.length(text) >= 20) & (F.length(text) <= 100_000)
    punct_ok = punct_ratio_milli(text) < 300
    stop_ok = stopword_ratio_milli(text) > 0
    return (
        F.when(length_ok, 400).otherwise(0)
        + F.when(punct_ok, 300).otherwise(0)
        + F.when(stop_ok, 300).otherwise(0)
    ).cast("long")


def fingerprint(text: Column, w: int = 8) -> Column:
    """Winnowing-style document fingerprint: the minimum md5 over all
    w-char windows — robust to single-char appends, portable to the SQL
    oracle (md5 + substring in both engines).  ≡ a rolling-hash document
    sketch; native `transform` over a `sequence`, no UDF."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (w - 1), F.lit(1)))
    return F.array_min(
        F.transform(idx, lambda i: F.md5(F.substring(text, i, w)))
    )


def _lines(text: Column) -> Column:
    return F.split(text, "\n", -1)


def _words(text: Column) -> Column:
    # drop empty tokens so leading/trailing whitespace can't differ
    # between engines' split semantics
    return F.filter(F.split(text, r"\s+", -1), lambda w: F.length(w) > 0)


_REPETITION_STAGING = ("_rl", "_rw", "_rg", "_rgs")


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The repetition-quality battery, staged through MATERIALIZED
    array columns.

    Why not one fused projection of the per-column functions: Spark's
    higher-order functions are interpreted (never codegen'd) and a
    lambda body re-evaluates every non-attribute subtree PER ELEMENT —
    ``filter(grams, x == g)`` inside ``transform(distinct(grams), …)``
    re-built the gram array (a ConcatWs transform) for every outer
    element: O(words³) per document, measured as a 500+ s single-task
    straggler on 50k bench docs.  Binding ``_rl``/``_rw``/``_rgs`` as
    projection columns makes every inner reference an O(1) attribute
    read, and the top-2-gram count runs over the SORTED gram array
    (run boundaries via adjacent inequality — counts per distinct gram
    are identical to the per-gram filter's).  Same integer outputs,
    same NULL propagation.  An input column named like a staging column
    is rejected (ValueError), not silently dropped."""
    clash = [c for c in df.columns if c.lower() in _REPETITION_STAGING]
    if clash:
        raise ValueError(
            f"repetition_signals stages through {_REPETITION_STAGING}; "
            f"rename the input column(s) {clash}"
        )
    t = F.col(text_col)
    staged = (
        df.select("*", _lines(t).alias("_rl"), _words(t).alias("_rw"))
        .select(
            "*",
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("_rw") - 1, F.lit(1))
                ),
                # try_element_at: docs with < 2 words index past the
                # array here (the old fused form never evaluated this
                # branch — `when` is lazy, a projection column is not);
                # their gram value is masked by the n<2 output guard
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at("_rw", i),
                    F.try_element_at("_rw", i + 1),
                ),
            ).alias("_rg"),
        )
        .select("*", F.array_sort("_rg").alias("_rgs"))
    )
    lines = F.col("_rl")
    nl = F.size(lines)
    dup_line = F.when(nl <= 0, F.lit(0).cast("long")).otherwise(
        _idiv((nl - F.size(F.array_distinct(lines))) * 1000, nl)
    )
    dup_chars = F.aggregate(
        F.filter(
            lines,
            lambda x: F.size(F.filter(lines, lambda y: y == x)) > 1,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )
    dup_line_char = _idiv(
        dup_chars * 1000, F.greatest(F.length(t), F.lit(1))
    )
    s = F.col("_rgs")
    ng = F.size(s)
    bstarts = F.filter(
        F.sequence(F.lit(1), ng),
        lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
    )
    bends = F.concat(
        F.slice(bstarts, 2, F.greatest(F.size(bstarts) - 1, F.lit(0))),
        F.array(ng + 1),
    )
    mass = F.array_max(
        F.zip_with(
            bstarts,
            bends,
            lambda st, en: (en - st) * F.length(F.element_at(s, st)),
        )
    )
    top2 = F.when(F.size(F.col("_rw")) < 2, F.lit(0).cast("long")).otherwise(
        _idiv(mass.cast("long") * 1000, F.greatest(F.length(t), F.lit(1)))
    )
    hits = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-")
            | x.startswith("*")
            | x.endswith("..."),
        )
    )
    bullets = F.when(nl <= 0, F.lit(0).cast("long")).otherwise(
        _idiv(hits * 1000, nl)
    )
    out = staged.select(
        "*",
        dup_line.alias("dup_line_milli"),
        dup_line_char.alias("dup_line_char_milli"),
        top2.alias("top2gram_milli"),
        bullets.alias("bullet_ellipsis_milli"),
    )
    return out.select(
        "*",
        (
            (F.col("dup_line_milli") < 300)
            & (F.col("dup_line_char_milli") < 200)
            & (F.col("top2gram_milli") < 200)
            & (F.col("bullet_ellipsis_milli") < 900)
        ).alias("repetition_ok"),
    ).drop(*_REPETITION_STAGING)


def scrub_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_line_len: int = 10,
) -> DataFrame:
    """CORPUS-LEVEL duplicate-line removal (the CCNet/RefinedWeb
    boilerplate scrub — public method): a line appearing in ≥
    ``min_docs`` DISTINCT documents is navigation/footer boilerplate
    and is dropped from every document; lines shorter than
    ``min_line_len`` are never candidates (blank lines and short
    connectors legitimately repeat).  Returns (id, text, n_removed)
    with line order preserved.

    Spark-first shape for 10^12 docs: explode lines once, distinct
    (doc, line) → count per line (two shuffles on the line key,
    map-side combinable), anti-join the boilerplate set (big×big
    shuffle join — the set scales with the corpus and cannot
    broadcast), reassemble per doc with an order-preserving
    ``collect_list(struct(pos, line))`` + ``array_sort`` aggregation —
    agg-form, no windows, bounded by document length per group."""
    t, i = F.col(text_col), F.col(id_col)
    lines = df.select(
        i.alias("id"),
        F.posexplode(F.split(t, "\n", -1)).alias("pos", "line"),
    )
    bad = (
        lines.filter(F.length("line") >= min_line_len)
        .select("id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_docs)
        .select("line")
    )
    kept = lines.join(bad, "line", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_scrubbed"),
        F.count(F.lit(1)).alias("_kept"),
    )
    n_lines = F.size(F.split(t, "\n", -1))
    return (
        df.select(i.alias("id"), n_lines.alias("_total"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_scrubbed", F.lit("")).alias(text_col),
            (F.col("_total") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def hash_bucket_milli(key: Column) -> Column:
    """Deterministic per-row bucket in [0, 1000): the first 8 hex chars
    of md5(key) as an integer, mod 1000.  Cross-engine exact (md5 is
    md5 everywhere), unlike seeded ``rand()``/``sampleBy`` whose
    generators differ between engines and across partitionings."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000
    )


def hash_sample(
    df, key_col: str, rate_milli: int, key_out: str | None = None
):
    """Deterministic content-addressed sampling — the training-data
    curation primitive: keep a row iff its key hashes under the rate.

    Properties a 100 TB pipeline needs and ``df.sample``/``sampleBy``
    lack: (a) REPRODUCIBLE independent of partitioning, executor count,
    and engine (the same url is in or out, forever — rerun-stable
    training sets); (b) CONSISTENT across tables (sampling pages and
    their link graph by the same url keeps them aligned); (c) MONOTONE
    in the rate (the 1% sample is a subset of the 10% sample —
    ``rate_milli`` 10 ⊂ 100), so curricula can grow without resampling.
    Pure native Column ops — the filter pushes into the scan.
    """
    b = hash_bucket_milli(F.col(key_col))
    out = df.filter(b < rate_milli)
    if key_out:
        out = out.withColumn(key_out, b)
    return out


def stratified_hash_sample(
    df,
    key_col: str,
    strata_col: str,
    rates_milli: dict[str, int],
    default_milli: int = 0,
    key_out: str | None = None,
):
    """Per-stratum deterministic sampling — the language/domain
    REBALANCING step of a training-data mix (e.g. keep 50% of English,
    12.5% of French, drop the tail): every stratum gets its own
    ``hash_sample`` rate, with all of that operator's guarantees
    (partition-independent, cross-engine reproducible, monotone per
    stratum, and CONSISTENT across strata — a row's in/out bucket
    depends only on its key, so raising one language's rate never
    reshuffles another's sample).

    ``rates_milli`` becomes a literal ``map<string,int>`` looked up in
    whole-stage codegen — zero joins, zero shuffles, and the filter
    still pushes into the scan.  Strata beyond ~10⁴ entries belong in
    a broadcast-joined rates DataFrame instead of a literal; the dict
    form covers the real case (languages, top-level domains, source
    tags)."""
    pairs: list = []
    for s, r in sorted(rates_milli.items()):
        pairs.extend([F.lit(s), F.lit(int(r))])
    rate = F.coalesce(
        F.create_map(*pairs)[F.col(strata_col)], F.lit(int(default_milli))
    )
    b = hash_bucket_milli(F.col(key_col))
    out = df.filter(b < rate)
    if key_out:
        out = out.withColumn(key_out, b)
    return out


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an evaluation set)
# ---------------------------------------------------------------------------


def ngram_array(text: Column, n: int) -> Column:
    """All word-``n``-grams of ``text`` as an ``array<string>`` — pure
    higher-order native functions (split → sequence → slice →
    array_join), whole-stage codegen, no explode and no UDF.  Empty
    array when the document has fewer than ``n`` words."""
    words = F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != F.lit(""))
    m = F.size(words) - n + 1
    return F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: F.array_join(F.slice(words, i + 1, F.lit(n)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", n: int = 13,
    hashed: bool = False,
) -> DataFrame:
    """Distinct word-``n``-grams of the benchmark corpus — the SMALL
    side of decontamination (eval suites are ≤ millions of docs vs a
    10^12-doc training corpus).  One explode + one distinct on the
    small side only.  ``hashed=True`` emits ``xxhash64`` of each
    n-gram instead of the string: at scale this shrinks the broadcast
    by ~10× (8 bytes vs ~80-char strings) at the cost of an
    astronomically-unlikely 64-bit collision flagging a clean doc —
    the standard trade (GPT-3 App. C / PaLM use hashed 13-grams)."""
    exploded = benchmark.select(
        F.explode(ngram_array(F.col(text_col), n)).alias("ng")
    )
    if hashed:
        # hash BEFORE the single distinct: one shuffle of 8-byte keys,
        # not a distinct over ~80-char strings followed by a second
        # exchange over their hashes
        exploded = exploded.select(F.xxhash64("ng").alias("ng"))
    return exploded.distinct()


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    mode: str = "flag",
    hashed: bool = False,
) -> DataFrame:
    """Benchmark decontamination: tag (``mode="flag"``) or drop
    (``mode="drop"``) every training document sharing at least one
    word-``n``-gram with the evaluation corpus — the GPT-3-style
    (Brown et al. 2020, App. C) 13-gram-overlap rule every published
    LLM training pipeline runs before training.

    Engine shape (scale analysis for 10^12 docs):

    * the benchmark side is exploded + distinct'd ONCE (small) and
      broadcast — the training corpus is never shuffled;
    * the training side is exploded to (id, ngram) rows — a flatMap,
      NO shuffle — and map-side broadcast-hash-semi-joined against the
      benchmark set; only MATCHING ids (the contaminated sliver)
      reach the one real shuffle (`distinct` on ids);
    * the final flag/drop join is id-vs-contaminated-ids; the id set
      is left unbroadcast so AQE sizes it at runtime (contamination
      is normally sparse → it auto-broadcasts; adversarially large →
      a safe shuffle join instead of an OOM).

    The corpus is scanned twice (once to probe n-grams, once to
    flag) — two cheap scans beat one shuffle of the exploded corpus
    (~n_tokens× the input) that a single-pass groupBy would need.

    The reference has no text decontamination (it is a geospatial
    engine); this mirrors its mask-by-external-layer idiom
    (`eodal/core/raster.py` clip/mask: a small vector layer gates a
    large raster) applied to the documents relation.
    """
    if mode not in ("flag", "drop"):
        raise ValueError(f"mode must be 'flag' or 'drop', got {mode!r}")
    bench_ng = F.broadcast(benchmark_ngrams(benchmark, text_col, n, hashed))
    probe = df.select(
        F.col(id_col), F.explode(ngram_array(F.col(text_col), n)).alias("ng")
    )
    if hashed:
        probe = probe.select(id_col, F.xxhash64("ng").alias("ng"))
    contaminated = (
        probe.join(bench_ng, "ng", "left_semi").select(id_col).distinct()
    )
    if mode == "drop":
        return df.join(contaminated, id_col, "left_anti")
    return df.join(
        contaminated.withColumn("_hit", F.lit(1)), id_col, "left"
    ).withColumn(
        "contaminated", F.coalesce("_hit", F.lit(0)).cast("int")
    ).drop("_hit")


# ---------------------------------------------------------------------------
# PII detection / redaction (the C4 / CCNet-style scrub step)
# ---------------------------------------------------------------------------

# Patterns are deliberately restricted to syntax Java regex and RE2
# (DuckDB) interpret IDENTICALLY — no backrefs, no lookaround — so the
# oracle can re-run the exact scrub in SQL.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{7,15}\b",
}
PII_SENTINELS = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}
# email FIRST: "user@10.0.0.1" matches the email pattern whole, so the
# embedded ipv4 never double-redacts — the order is part of the contract
PII_ORDER = ("email", "ipv4", "phone")


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII kind — native ``regexp_extract_all``."""
    return F.size(
        F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), F.lit(0))
    )


def redact_pii(text: Column, kinds: tuple[str, ...] = PII_ORDER) -> Column:
    """Replace every PII occurrence with its typed sentinel — chained
    native ``regexp_replace`` (whole-stage codegen, no UDF).  Kinds are
    applied in ``PII_ORDER`` regardless of the order passed, so
    overlapping matches resolve deterministically."""
    out = text
    for k in PII_ORDER:
        if k in kinds:
            out = F.regexp_replace(
                out, PII_PATTERNS[k], PII_SENTINELS[k]
            )
    return out


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    mode: str = "redact",
    max_total: int = 0,
) -> DataFrame:
    """PII scrub over a documents relation — the privacy pass every
    published web-text pipeline runs (C4 masks, CCNet/Gopher drop):

    * ``mode="redact"`` — replace matches with typed sentinels, keep
      every row, add per-kind counts;
    * ``mode="drop"`` — drop documents whose TOTAL match count exceeds
      ``max_total`` (0 = any PII drops the doc), redact survivors;
    * ``mode="flag"`` — only add the counts + ``pii_total`` columns.

    Engine shape: counts and replacements are chained native regexp
    expressions on the scan projection — one pass, no shuffle, no UDF;
    at 10^12 docs this is embarrassingly parallel and pipelines into
    whatever filter/dedup stage follows.  The reference has no text
    privacy surface (geospatial engine); this mirrors its mask-and-keep
    vs mask-and-drop raster semantics (`eodal/core/band.py` mask)
    applied to the text plane."""
    if mode not in ("redact", "drop", "flag"):
        raise ValueError(mode)
    t = F.col(text_col)
    counted = df.select(
        "*",
        *[
            pii_count(t, k).alias(f"n_{k}")
            for k in PII_ORDER
        ],
    ).withColumn(
        "pii_total",
        sum(F.col(f"n_{k}") for k in PII_ORDER),
    )
    if mode == "flag":
        return counted
    if mode == "drop":
        counted = counted.filter(F.col("pii_total") <= max_total)
    return counted.withColumn(text_col, redact_pii(t))


def chunk_tokens(
    df: DataFrame,
    size: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows with optional
    overlap — the passage-chunking stage every embedding/RAG pipeline
    runs before vectorization (chunk → embed → index), and the unit
    the ANN tier (`operators/similarity`) indexes.

    One row per chunk: ``(id, chunk_id, n_tokens, chunk)`` where
    ``chunk_id`` is the 0-based ordinal, chunks start every
    ``size - overlap`` tokens, the last chunk keeps the tail (shorter
    than ``size``), and a doc shorter than ``size`` yields exactly one
    chunk.  Empty docs yield none.  Whitespace inside chunks is
    normalized to single spaces (token-granular surgery, same stance
    as `scrub_boilerplate_lines`).

    Engine shape: pure higher-order functions (split → sequence with
    stride → slice → array_join) + one posexplode — a flatMap, NO
    shuffle, whole-stage codegen, no UDF; at 10^12 docs it pipelines
    straight into the embedding scorer.  ≡ the reference's tiling of a
    raster into fixed windows for block processing
    (`eodal/core/band.py` windowed reads), applied to the token axis."""
    if size <= 0 or overlap < 0 or overlap >= size:
        raise ValueError(f"need 0 <= overlap < size, got {size=} {overlap=}")
    step = size - overlap
    ws = _words(F.col(text_col))
    n = F.size(ws)
    # last start: the largest k*step+1 that still begins a NEW span
    # (start <= n - overlap keeps tails that extend past a prior chunk)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(_idiv(n - overlap - 1, F.lit(step)) + 1, F.lit(1))
    )
    starts = F.sequence(
        F.lit(1), F.greatest((n_chunks - 1) * step + 1, F.lit(1)), F.lit(step)
    )
    chunks = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            starts, lambda s: F.array_join(F.slice(ws, s, F.lit(size)), " ")
        )
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(F.split(F.col("chunk"), " ", -1)).cast("long").alias("n_tokens"),
        "chunk",
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    n: int,
    order_cols: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``n`` rows per key — the per-host quota every crawl
    curation pipeline applies (cap en.wikipedia.org at N pages so one
    mega-host cannot dominate the training mix; C4 and RefinedWeb both
    cap hosts/domains).  ``order_cols`` must be a deterministic total
    order (e.g. the url): the SAME n rows win on every engine,
    partitioning, and rerun — quota selection is reproducible like
    `hash_sample`, not a `LIMIT`.

    Skew-proof two-phase plan: a naive per-key window serializes a
    mega-host into ONE task (the measured failure mode in
    BENCH/BASELINE.md §Skew).  Phase 1 ranks within (key, salt) —
    a hot key splits across ``salt_buckets`` tasks — and keeps ``n``
    per bucket; phase 2 ranks the ≤ salt_buckets·n survivors per key.
    Exactness: the true top-n of a key each rank ≤ n inside their own
    bucket, so phase 1 never drops a winner.  Both phases are native
    window row_numbers (sorts spill gracefully, no lists collected).
    """
    from pyspark.sql.window import Window

    if n <= 0 or salt_buckets <= 0:
        raise ValueError(f"need n > 0 and salt_buckets > 0, got {n=} {salt_buckets=}")
    oc = [F.col(c) for c in order_cols]
    w1 = Window.partitionBy(key_col, "_salt").orderBy(*oc)
    w2 = Window.partitionBy(key_col).orderBy(*oc)
    return (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64(*order_cols), F.lit(salt_buckets))
        )
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= n)
        .drop("_salt", "_r1", "_r2")
    )
