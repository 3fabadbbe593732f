"""Bigram language-model quality scoring — the CCNet/FineWeb
perplexity tier of a web-text curation pipeline (Wenzek et al. 2020
§4.3; public method: score each document's fluency against an n-gram
LM trained on a trusted reference slice, then filter or bucket by
perplexity).

Spark shape — the model IS a relation, training IS aggregation:

* **train**: a deterministic md5-hash slice of the corpus is the
  reference (reproducible across engines/partitionings, same property
  as ``text.hash_sample``); bigram counts are ONE explode → groupBy
  with map-side partial aggregation; context counts derive from the
  bigram relation (``c1(w) = Σ_w2 c2(w, w2)``) so training never
  re-reads the text.  At 100 TB the model tables stay distributed —
  nothing is collected except the vocabulary size (one scalar).
* **score**: each doc's bigrams explode once and LEFT-join the model.
  Small models (the usual case — a 0.1% slice of even a huge corpus
  has bounded vocab) broadcast, decided from Catalyst's driver-side
  size estimate exactly as ``spatial_join`` does; big models fall
  back to a shuffle equi-join on the bigram key, which AQE handles.
  The per-doc reduction is a map-side-combinable groupBy.
* **integer-exact core, float at the edge**: everything the driver
  gate hashes (bigram counts, model hits, context mass) is bigint —
  reproducible bit-for-bit in DuckDB.  The log/exp step that turns
  those integers into a perplexity is the only float arithmetic, kept
  per-row-then-averaged and verified against a pure-Python reference
  in tests (cross-engine float summation order is why the gate pins
  the integers, not the float — same stance as BM25's micro-idf).

Add-one smoothing over the context:  ``p(w2 | w1) = (c2 + 1) /
(c1 + V)`` with ``V`` = model vocabulary size, so unseen bigrams and
unseen contexts both get well-defined mass and per-context
probabilities sum to ≤ 1.  Perplexity = ``exp(-mean log p)`` over the
doc's bigrams.

Reference parity: the reference engine has no text tier (rasters), but
its band-algebra + mask composition (eodal band.py) is the same
shape — a scoring expression over a joined relation — and SURVEY §2.8's
"user-registered reductions" covers pluggable quality scores; this
module is the web-text member of that family the brief's
training-pipeline axis requires.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodal_spark.operators.text import _words, hash_bucket_milli
from eodal_spark.plans.introspect import plan_size_bytes


@dataclass(frozen=True)
class BigramLM:
    """A trained bigram model: two count relations + the vocab scalar.

    ``bigrams``  — (w1, w2, c2): bigram occurrence counts in the slice.
    ``contexts`` — (w1, c1): context mass, c1 = Σ_w2 c2(w1, w2).
    ``vocab``    — |{w : w appears in any slice bigram}| (int).
    """

    bigrams: DataFrame
    contexts: DataFrame
    vocab: int


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, w1, w2) — one row per adjacent lowercase token pair.

    Native higher-order functions only: split → filter → indexed
    transform → explode; whole-stage codegen, no Python."""
    ws = _words(F.lower(F.col(text_col)))
    pairs = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda w, i: F.struct(
            w.alias("w1"), F.element_at(ws, i + 2).alias("w2")
        ),
    )
    return (
        docs.select(F.col(id_col).alias("_id"), F.explode(pairs).alias("bg"))
        .select("_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .withColumnRenamed("_id", id_col)
    )


def train_bigram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_milli: int = 100,
) -> BigramLM:
    """Train on the deterministic md5 slice ``bucket(id) < ref_milli``.

    Two shuffles total (bigram groupBy; context groupBy over the much
    smaller bigram relation), both map-side combined.  The ONLY driver
    action is the vocabulary count — one scalar, the model artifact
    precedent (IVF centroids, PQ codebooks).  Vocabulary is defined
    over the bigram relation (distinct of w1 ∪ w2) so the whole model
    is a pure function of that one relation — the DuckDB twin mirrors
    it term for term."""
    ref = docs.filter(hash_bucket_milli(F.col(id_col)) < ref_milli)
    bg = doc_bigrams(ref, id_col, text_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    bigrams = bigrams.persist()
    contexts = bigrams.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        bigrams.select(F.col("w1").alias("w"))
        .union(bigrams.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )
    return BigramLM(bigrams=bigrams, contexts=contexts, vocab=int(vocab))


def _maybe_broadcast(df: DataFrame, broadcast_model: bool | None) -> DataFrame:
    if broadcast_model is None:
        # no usable estimate (no stats, reflection drift): leave to AQE
        size = plan_size_bytes(df)
        if size is not None and size <= 256 << 20:
            broadcast_model = True
    return F.broadcast(df) if broadcast_model else df


def score_bigram_lm(
    docs: DataFrame,
    model: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool | None = None,
) -> DataFrame:
    """Per-doc model-join statistics + perplexity.

    Returns one row per doc with ≥1 bigram:

    * ``n_bigrams``, ``n_seen`` (bigram in model), ``n_ctx`` (context
      in model), ``sum_c2``, ``sum_c1`` — **bigint, integer-exact**:
      these pin the tokenization, the slice, both model joins and the
      smoothing denominators, and are what the driver gate hashes;
    * ``lp_micro_sum`` — Σ floor(1e6·ln p) per bigram (bigint; the
      quantize-then-sum keeps the sum order-independent);
    * ``ppl`` — exp(−mean log p), the CCNet filter value (double; local
      tests verify it against a pure-Python reference).

    One explode, up to two joins (broadcast when the model is small —
    zero shuffle of the corpus side), one map-side-combinable groupBy.
    """
    bg = doc_bigrams(docs, id_col, text_col)
    joined = bg.join(
        _maybe_broadcast(model.bigrams, broadcast_model), ["w1", "w2"], "left"
    ).join(_maybe_broadcast(model.contexts, broadcast_model), ["w1"], "left")
    c2 = F.coalesce(F.col("c2"), F.lit(0))
    c1 = F.coalesce(F.col("c1"), F.lit(0))
    v = F.lit(int(model.vocab))
    logp = F.log((c2 + 1).cast("double") / (c1 + v).cast("double"))
    per = joined.select(
        F.col(id_col),
        c2.alias("_c2"),
        c1.alias("_c1"),
        F.floor(logp * 1e6).cast("long").alias("_lp_micro"),
    )
    out = per.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum((F.col("_c2") > 0).cast("long")).alias("n_seen"),
        F.sum((F.col("_c1") > 0).cast("long")).alias("n_ctx"),
        F.sum("_c2").alias("sum_c2"),
        F.sum("_c1").alias("sum_c1"),
        F.sum("_lp_micro").alias("lp_micro_sum"),
    )
    return out.withColumn(
        "ppl",
        F.exp(
            -(F.col("lp_micro_sum").cast("double") / 1e6)
            / F.col("n_bigrams").cast("double")
        ),
    )


def perplexity_filter(
    docs: DataFrame,
    model: BigramLM,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep docs whose bigram perplexity is ≤ ``max_ppl`` — the CCNet
    head/middle cut.  Docs with no bigrams (≤1 token) are dropped, as
    CCNet drops unscorable fragments."""
    scored = score_bigram_lm(docs, model, id_col, text_col)
    keep = scored.filter(F.col("ppl") <= F.lit(float(max_ppl))).select(id_col)
    return docs.join(keep, id_col, "semi")
