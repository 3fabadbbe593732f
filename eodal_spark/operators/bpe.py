"""Byte-pair-encoding tokenizer: corpus-scale training and fully
map-side application (Sennrich et al. 2016, the tokenizer-training
step every LLM data pipeline runs over its cleaned corpus; public
method).

Spark shape — train on the WORD-FREQUENCY relation, not the corpus:

* one corpus pass aggregates ``(word, count)`` (map-side combined);
  every subsequent merge round runs on that vocabulary-sized relation
  — at 10^12 corpus tokens the distinct-word relation is millions of
  rows, so 100+ rounds cost 100 passes over MEGABYTES, not the corpus
  (the same reduction the original BPE implementation and every
  production trainer make);
* a word's symbol sequence is a unit-separator-joined string
  (``a␟b␟c␟</w>``); applying merge (a, b) is ONE native ``replace``
  of ``a␟b`` with ``ab``.  A left-to-right string replace that
  resumes AFTER each substitution is exactly BPE's greedy single-pass
  fold (test-asserted on the ``aaaa`` overlap family), so the whole
  apply stage is a chain of codegen'd replaces — no UDF, no explode;
* each round's best pair is ONE driver action (count-desc,
  pair-asc total order — deterministic across partitionings), the
  same fused-action budget as ``knn``'s escalation loop; lineage is
  localCheckpoint-truncated every few rounds like every iterative
  operator here (graph.py);
* ``bpe_pieces`` (application) is map-side only: split → per-word
  replace chain → re-split, inside higher-order transforms — zero
  shuffles, pipelines into token counting or chunking.

Scope: symbols are unicode code units of the ``\\s+``-tokenized words
(ASCII-exact across engines; the synthetic corpus is ASCII) with the
classic ``</w>`` end-of-word marker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eodal_spark.operators.text import _words

SEP = "\x1f"  # unit separator: never appears in \s+-split tokens
END = "</w>"


def _sym_string(word: Column) -> Column:
    """``abc`` → ``a␟b␟c␟</w>`` — the initial symbol sequence."""
    return F.concat(F.regexp_replace(word, "(.)", "$1" + SEP), F.lit(END))


def _apply_merges(s: Column, merges: list[tuple[str, str]]) -> Column:
    """Chain one native replace per merge, in training order."""
    for a, b in merges:
        s = F.replace(s, F.lit(a + SEP + b), F.lit(a + b))
    return s


def word_freq(
    docs: DataFrame, text_col: str = "text", lower: bool = True
) -> DataFrame:
    """(word, cnt) — the one corpus pass training needs."""
    w = F.explode(_words(
        F.lower(F.col(text_col)) if lower else F.col(text_col)
    )).alias("word")
    return docs.select(w).groupBy("word").agg(F.count("*").alias("cnt"))


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns the
    ordered merge list (the model artifact — a python list like the
    IVF centroids / PQ codebooks, NOT a collected corpus).  Stops
    early when no pair reaches ``min_pair_count``.

    Each round: adjacent symbol pairs of every distinct word, weighted
    by word count (posexplode over the vocab relation — small), one
    groupBy, ONE driver action for the argmax with (count desc, pair
    asc) total-order tie-break, then one replace over the vocab."""
    vocab = word_freq(docs, text_col).select(
        _sym_string(F.col("word")).alias("s"), "cnt"
    ).persist()
    vocab.count()
    merges: list[tuple[str, str]] = []
    for r in range(n_merges):
        syms = F.split(F.col("s"), SEP)
        pairs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.slice(syms, 1, F.size(syms) - 1),
                lambda x, i: F.struct(
                    x.alias("a"), F.element_at(syms, i + 2).alias("b")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        top = (
            vocab.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        nxt = vocab.select(
            F.replace(F.col("s"), F.lit(a + SEP + b), F.lit(a + b)).alias("s"),
            "cnt",
        )
        if (r + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint()  # truncate the replace lineage
        old, vocab = vocab, nxt.persist()
        vocab.count()
        old.unpersist()
    vocab.unpersist()
    return merges


def bpe_pieces(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lower: bool = True,
) -> DataFrame:
    """Tokenize every doc with a trained merge table — map-side only.

    One row per doc: ``(id, n_words, n_pieces, pieces)`` where
    ``pieces`` is the flattened piece sequence (``</w>`` markers kept,
    so the word boundaries survive).  split → per-word replace chain →
    re-split inside transforms: zero shuffles, zero joins, no UDF."""
    t = F.lower(F.col(text_col)) if lower else F.col(text_col)
    ws = _words(t)
    pieces = F.flatten(
        F.transform(
            ws, lambda w: F.split(_apply_merges(_sym_string(w), merges), SEP)
        )
    )
    return docs.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_words"),
        F.size(pieces).cast("long").alias("n_pieces"),
        pieces.alias("pieces"),
    )
