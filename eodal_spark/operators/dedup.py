"""Deduplication suite for web-scale training-data pipelines.

Exact dedup, character-shingle Jaccard, MinHash+LSH, SimHash, and
embedding near-dup — each expressed as DataFrame algebra so the physical
plan is shuffles over compact keys, never pairwise row comparisons over
the full corpus (except the explicitly-bounded exact-Jaccard verifier).

Scale notes (10^12 docs):
* exact: one shuffle on a 256-bit content hash (tiny keys);
* MinHash LSH: shingles → signatures is map-side only; candidate
  generation shuffles (band_hash) pairs within small buckets;
* SimHash: map-side signature, self-join on rotated prefix buckets;
* every near-dup operator (MinHash, SimHash, embedding near-dup,
  SemDeDup) searches pairs among one representative per
  exact-duplicate group and fans them back out through one helper,
  :func:`_collapse_expand`, so identical rows never fill a bucket;
* all tie-breaks are total orders (min doc_id) ⇒ deterministic
  survivors under any parallelism (same guarantee as mosaic_dedup).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eodal_spark.plans.introspect import spread_to_parallelism

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id document per exact text content (sha256 groupBy).
    Returns the surviving rows.

    Aggregation form, NOT a window: ``min_by(struct(row), id)`` combines
    map-side, so 10^8 copies of one boilerplate page reduce to one
    candidate per map partition before the shuffle — a row_number window
    would funnel the whole duplicate group into a single task (window
    partitions cannot be split by AQE)."""
    cols = df.columns
    h = F.sha2(F.col(text_col), 256).alias("_h")
    win = (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_w"))
    )
    return win.select(*[F.col(f"_w.{c}").alias(c) for c in cols])


def _collapse_expand(
    rows: DataFrame,
    key: Column,
    rep_pairs: Callable[[DataFrame], DataFrame],
    within: Column | None,
    expand: str,
    max_group: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs of ``rows(id, …)`` found among one
    representative per exact-duplicate group, then fanned back out to
    the members — the hot-bucket defense of every near-dup operator
    (MinHash, SimHash, embedding near-dup, SemDeDup).

    n identical rows collide in every LSH band, SimHash block, SRP
    bucket or k-means cluster, so a pair search over the raw rows emits
    ~n²/2 pairs from one key, and no number of bands or planes splits
    identical inputs.  Here rows with equal ``key`` (the sha2 text
    digest, the SimHash signature, the q7-quantised vector) map to
    their min-id representative: the map-side combinable min gives the
    ``(id, rep_id)`` mapping, whose join fans a hot key 1×n, never n×n.
    ``rep_pairs`` runs on the representatives' own rows only and
    returns ``(id_a < id_b, value…)``.  The key must determine the pair
    test, so a member pair passes iff its representatives' pair does,
    with the same values.

    ``within`` is the value each value column takes on a within-group
    pair, evaluated on the representative's row (|shingle set| for
    MinHash's inter and uni, 0 for a distance); None when the pairs
    carry no value.  ``expand``:
      * ``"all"`` — every implied member pair: the cross pairs of both
        representatives' members (``least``/``greatest``), plus the
        within-group pairs.  Equal to the pair search over the raw
        rows; the output is quadratic in group size, so ``max_group``
        (when given) fails fast on a larger group before any pair work;
      * ``"star"`` — the representative pairs plus one (rep, member)
        pair per member: O(n) output, same connected components.

    The ``(id, key)`` projection and the mapping are persisted (the
    representatives, group sizes and fan-out all read them) and stay
    cached for the result's lifetime."""
    if expand not in ("all", "star"):
        raise ValueError(f"unknown expand mode {expand!r}")
    # hash the rows ONCE: keyed is the tiny (id, key) projection, so
    # reps and mapping both read it instead of re-deriving the key
    keyed = rows.select("id", key.alias("_h")).persist()
    reps = keyed.groupBy("_h").agg(F.min("id").alias("rep_id"))
    mapping = keyed.join(reps, "_h").select("id", "rep_id").persist()
    counts = mapping.groupBy("rep_id").agg(F.count(F.lit(1)).alias("_gn"))
    rep_rows = rows.join(reps.select(F.col("rep_id").alias("id")), "id", "semi")
    try:
        if max_group is not None and expand == "all":
            big = (
                counts.filter(F.col("_gn") > max_group)
                .orderBy(F.desc("_gn"))
                .first()
            )
            if big is not None:
                raise ValueError(
                    f"duplicate group of representative {big['rep_id']} has "
                    f"{big['_gn']:,} members (> {max_group:,}); its pair "
                    "clique is quadratic AND lands on one join key — use "
                    "expand='star' (linear representative→member pairs) or "
                    "raise max_group_size deliberately"
                )
        pairs = rep_pairs(rep_rows)
    except Exception:
        keyed.unpersist()
        mapping.unpersist()
        raise
    vals = [c for c in pairs.columns if c not in ("id_a", "id_b")]
    fill = [F.col("_ss").alias(c) for c in vals]
    # one within value per multi-member group, from its representative
    multi = counts.filter(F.col("_gn") > 1)
    sizes = rep_rows.join(
        multi.select(F.col("rep_id").alias("id")), "id", "semi"
    ).select(
        F.col("id").alias("rep_id"),
        *([] if within is None else [within.alias("_ss")]),
    )
    if expand == "star":
        members = mapping.filter(F.col("id") != F.col("rep_id"))
        if within is not None:
            members = members.join(sizes, "rep_id")
        return pairs.unionByName(
            members.select(
                F.col("rep_id").alias("id_a"), F.col("id").alias("id_b"), *fill
            )
        )
    ma = mapping.select(F.col("id").alias("_xa"), F.col("rep_id").alias("id_a"))
    mb = mapping.select(F.col("id").alias("_xb"), F.col("rep_id").alias("id_b"))
    cross = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            *vals,
        )
    )
    # restrict the mapping to multi-member groups FIRST (the sizes
    # dimension is exactly those groups): the within self-join then
    # pairs only duplicate families instead of self-pairing every
    # singleton of the corpus and filtering afterwards
    m_multi = mapping.join(sizes, "rep_id")
    w1 = m_multi.select(*sizes.columns, F.col("id").alias("_xa"))
    w2 = m_multi.select("rep_id", F.col("id").alias("_xb"))
    within_pairs = (
        w1.join(w2, "rep_id")
        .filter(F.col("_xa") < F.col("_xb"))
        .select(F.col("_xa").alias("id_a"), F.col("_xb").alias("id_b"), *fill)
    )
    return cross.unionByName(within_pairs)


# ---------------------------------------------------------------------------
# Character-shingle Jaccard (exact near-dup ground truth)
# ---------------------------------------------------------------------------

def shingles(text: Column, w: int = 5) -> Column:
    """Distinct character w-shingles — native sequence/transform."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (w - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, w)))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
    threshold_milli: int = 800,
) -> DataFrame:
    """All document pairs with shingle-Jaccard >= threshold/1000.

    Inverted-index join: explode shingles, self-join on shingle, count
    intersections, then |A∪B| = |A|+|B|-|A∩B|.  The threshold test is
    integer arithmetic (inter*1000 >= t*union) — oracle-exact.
    Intended for verification corpora / within-bucket refinement, not
    the full 10^12 corpus (that's what MinHash LSH is for)."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), w)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("uni", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(F.col("inter") * 1000 >= F.lit(threshold_milli) * F.col("uni"))
    )
    return out.select("id_a", "id_b", "inter", "uni")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def _minhash_sig_fn(num_perm: int, w: int, seed: int = 42):
    """text → int64[num_perm] MinHash signature over the UTF-8 byte
    ``w``-shingles (texts shorter than ``w`` are NUL-padded).  The
    shingle hashing is a numpy sliding-window polynomial hash (zero
    per-byte Python) and the permutation mins are one
    (num_perm × shingles) matrix op."""
    a, b = _minhash_params(num_perm, seed)
    a_u = a[:, None].astype(np.uint64)
    b_u = b[:, None].astype(np.uint64)
    # polynomial rolling-hash weights (mod 2^64 wraparound)
    weights = np.empty(w, dtype=np.uint64)
    weights[0] = 1
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash's modulus
        for i in range(1, w):
            weights[i] = weights[i - 1] * _POLY_BASE

    def sig_of(t: str | None) -> np.ndarray:
        raw = (t or "").encode("utf-8")
        if len(raw) < w:
            raw = raw + b"\x00" * (w - len(raw))
        wins = sliding_window_view(np.frombuffer(raw, dtype=np.uint8), w)
        hv = np.unique(
            (wins.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)
        ) & np.uint64(0x7FFFFFFFFFFFFFFF)
        mins = ((a_u * hv[None, :] + b_u) % np.uint64(_MERSENNE)).min(axis=1)
        return mins.astype(np.int64)

    return sig_of


def _band_hashes(bands: int, rows_per_band: int) -> Column:
    """(band, bh) generator over the ``sig`` column: one row per band
    with the hash of that band's ``rows_per_band`` signature values —
    the LSH bucket key."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.hash(F.slice("sig", i * rows_per_band + 1, rows_per_band)),
        )
    ).alias("band", "bh")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    w: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — MinHash over character shingles
    (:func:`_minhash_sig_fn`), Arrow-batched.  Map-side only — no
    shuffle (beyond the small-input spread,
    :func:`spread_to_parallelism`)."""
    sig_of = _minhash_sig_fn(num_perm, w, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        return pd.Series([sig_of(t) for t in texts])

    df = spread_to_parallelism(df, id_col)
    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))


# polynomial token-hash parameters: FNV prime as the base (odd → has a
# modular inverse mod 2^64, enabling the vectorized prefix trick below)
_POLY_BASE = np.uint64(1099511628211)
_POLY_INV = np.uint64(pow(1099511628211, -1, 1 << 64))


def _token_hashes(arr: np.ndarray) -> np.ndarray:
    """Polynomial hashes (mod 2^64) of the ASCII-whitespace-separated
    tokens of one UTF-8 byte array — **fully vectorized**, zero
    per-token Python.

    Uses the prefix-product identity: with pw[k] = base^k and
    S[k] = Σ_{j<k} byte_j·base^{-j} (both cumulative numpy ops under
    uint64 wraparound), the hash of bytes [a, b) is
    ``pw[b-1] · (S[b] - S[a]) = Σ byte_j · base^{b-1-j}`` — one gather
    per token instead of a Python loop per token."""
    is_tok = ~((arr == 32) | ((arr >= 9) & (arr <= 13)))
    if not is_tok.any():
        return np.empty(0, dtype=np.uint64)
    # NOTE: raw polynomial hashes of short tokens are tiny (1-byte token
    # → value < 2^8), which would zero the high simhash bit votes; the
    # splitmix64 finalizer below (_mix64) spreads them over all 64 bits.
    d = np.diff(is_tok.astype(np.int8))
    starts = np.nonzero(d == 1)[0] + 1
    ends = np.nonzero(d == -1)[0] + 1
    if is_tok[0]:
        starts = np.concatenate(([0], starts))
    if is_tok[-1]:
        ends = np.concatenate((ends, [len(arr)]))
    n = len(arr)
    with np.errstate(over="ignore"):
        pw = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_BASE, dtype=np.uint64)))
        )
        ivp = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_INV, dtype=np.uint64)))
        )
        s = np.concatenate(
            ([np.uint64(0)], np.cumsum(arr.astype(np.uint64) * ivp))
        )
        return _mix64(pw[ends - 1] * (s[ends] - s[starts]))


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (vectorized): bijective 64-bit avalanche so
    every output bit depends on every input bit — without it, short
    tokens leave the high bits all-zero and bias simhash votes."""
    with np.errstate(over="ignore"):
        h = h.astype(np.uint64)
        h ^= h >> np.uint64(30)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(27)
        h *= np.uint64(0x94D049BB133111EB)
        h ^= h >> np.uint64(31)
        return h


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banding: hash each band of the signature, self-join on
    (band_idx, band_hash) buckets → candidate pairs (id_a < id_b).
    Shuffle key is the band hash — small and well-distributed.  Every
    bucket pairs in full (no member is ever dropped): the exact-text
    pre-collapse in :func:`minhash_dedup` removes the *guaranteed* hot
    buckets (identical docs collide in every band) without recall
    loss."""
    banded = sigs.select("id", _band_hashes(bands, rows_per_band))
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _banded_sigs(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, sig, band, bh) — one row per (document, band) with the
    band's bucket hash; the full signature rides along for the fused
    estimate (see :func:`_bucket_pairs_est`)."""
    return sigs.select("id", "sig", _band_hashes(bands, rows_per_band))


def _partition_frame(it) -> pd.DataFrame | None:
    """A mapInPandas partition's Arrow batches as one frame; None when
    the partition is empty."""
    frames = list(it)
    if not frames:
        return None
    df = pd.concat(frames, ignore_index=True)
    return None if df.empty else df


def _estimate_survivors(df: pd.DataFrame, num_perm: int, est_min: int):
    """The per-bucket signature-estimate kernel of one partition of
    (band, bh, sig) rows: yields chunks ``(ii, jj)`` of row-index pairs
    into ``df`` that share a bucket and agree on at least
    ``ceil(est_min / 1000)`` signature positions.

    Rows are grouped into buckets by one sort on (band, bh).  Each
    bucket is one numpy block, so raw bucket collisions are array scans
    inside the worker and never leave it (guide §2.3 "decide before you
    move"):
      * buckets of ≤ 64 members are batched per size class — a
        partition's hundreds of thousands of 2-10-member buckets cost a
        handful of numpy calls — and their pairs compared gathered,
        chunked so the (pairs × num_perm) temp is bounded;
      * bigger buckets accumulate pairwise match counts as dense
        outer products, row-chunked so memory is O(chunk × bucket).
        Each signature column is first factorized WITHIN the bucket: a
        column with one distinct value (the band that DEFINES the
        bucket agrees on every member) contributes +1 to every pair and
        is folded into the threshold; a column with all-distinct values
        contributes 0 and is skipped; the rest compare as narrow
        integer codes instead of int64 — the dense pass is
        memory-bound, so code width is wall-clock (measured 15.3 s →
        ~2 s single-core on the sf1.0 hot buckets).

    A pair sharing several buckets is yielded once per shared bucket."""
    # matches*1000 >= est_min  ⇔  matches >= ceil(est_min/1000)
    min_matches = -(-est_min // 1000)
    acc_t = np.uint8 if num_perm <= 255 else np.uint16
    big_n = 64
    key = df["band"].to_numpy(np.int64) * np.int64(1 << 33) + (
        df["bh"].to_numpy(np.int64) + np.int64(1 << 32)
    )
    order = np.argsort(key, kind="stable")
    key = key[order]
    sig_mat = np.vstack(df["sig"].to_numpy()[order])
    bounds = np.nonzero(np.diff(key))[0] + 1
    seg_starts = np.concatenate(([0], bounds))
    sizes = np.diff(np.concatenate((seg_starts, [len(key)])))

    small = (sizes >= 2) & (sizes <= big_n)
    for n in np.unique(sizes[small]):
        starts_n = seg_starts[small & (sizes == n)]
        ti, tj = np.triu_indices(int(n), 1)
        ii = (starts_n[:, None] + ti[None, :]).ravel()
        jj = (starts_n[:, None] + tj[None, :]).ravel()
        for cs in range(0, len(ii), 1 << 20):
            ic = ii[cs : cs + (1 << 20)]
            jc = jj[cs : cs + (1 << 20)]
            keep = (sig_mat[ic] == sig_mat[jc]).sum(axis=1) >= min_matches
            if keep.any():
                yield order[ic[keep]], order[jc[keep]]
    for s, n in zip(seg_starts[sizes > big_n], sizes[sizes > big_n]):
        n = int(n)
        bsig = sig_mat[s : s + n]
        const_cols = 0
        var_cols: list[np.ndarray] = []
        for p in range(bsig.shape[1]):
            u, inv = np.unique(bsig[:, p], return_inverse=True)
            if len(u) == 1:
                const_cols += 1
            elif len(u) < n:
                ct = np.uint8 if len(u) <= 255 else (
                    np.uint16 if len(u) <= 65535 else np.int64
                )
                var_cols.append(inv.astype(ct))
        thr = min_matches - const_cols
        for cs in range(0, n, 2048):
            ce = min(cs + 2048, n)
            if thr <= 0:
                # every collision pair passes the estimate
                ii, jj = np.nonzero(np.ones((ce - cs, n), dtype=bool))
            else:
                acc = np.zeros((ce - cs, n), dtype=acc_t)
                for col in var_cols:
                    acc += col[cs:ce, None] == col[None, :]
                ii, jj = np.nonzero(acc >= thr)
            keep = jj > (ii + cs)  # strict upper triangle only
            if keep.any():
                yield order[s + cs + ii[keep]], order[s + jj[keep]]


def _bucket_pairs_est(banded: DataFrame, num_perm: int, est_min: int) -> DataFrame:
    """LSH buckets → (id_a, id_b) candidate pairs that ALSO pass the
    signature-agreement estimate, in ONE stage
    (:func:`_estimate_survivors` per partition).  A pair sharing several
    bands is emitted once per shared band; the consumer de-duplicates.

    Replaces the candidate self-join + distinct + two signature
    re-joins + zip_with filter chain.  That plan shuffled every raw
    bucket collision three times (measured 47.1M collision pairs on
    the sf1.0 corpus for 7.9M estimate survivors and 2.5k true pairs)
    and its hottest bucket (4.7k members ⇒ 11.2M pairs) was emitted
    and estimated by a single join task — the 199/200-straggler shape
    of guide §2.5, unsplittable because the skew is join-OUTPUT
    explosion, which AQE's skew handling cannot touch.  Here the
    shuffle carries just the 16-byte survivors, and the estimate is a
    pure function of the two signatures, so filtering before the
    pair-level de-duplication is output-identical to filtering after.
    The hot bucket's block is ~bucket²·num_perm byte-ops of sequential
    numpy (about 1.4e9 for the sf1.0 hot bucket — well under a second)
    instead of 11M codegen'd zip_with evaluations, so the straggler
    disappears without salting."""
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )

    def gen(it):
        df = _partition_frame(it)
        if df is None:
            return
        ids = df["id"].to_numpy(np.int64)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        for ii, jj in _estimate_survivors(df, num_perm, est_min):
            ia, ib = ids[ii], ids[jj]
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
        if out_a:
            yield pd.DataFrame(
                {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
            )

    return banded.repartition(F.col("band"), F.col("bh")).mapInPandas(
        gen, schema
    )


def _sigs_banded_bm(
    docs: DataFrame,
    universe: np.ndarray,
    num_perm: int,
    w: int,
    bands: int,
    seed: int = 42,
) -> DataFrame:
    """(id, sig, bm, band, bh) — signatures AND the exact shingle-set
    bitmap over the corpus ``universe``, one Arrow pass per doc, then
    the band explode.  The bitmap (V/8 bytes ≈ 260 B at the measured
    V≈2k universe) rides the bucket shuffle so the bucket workers can
    verify pairs EXACTLY in place — the per-pair text attach and its
    ~600 B × 2 payload per candidate disappear (guide §2.3/§8: move
    per-doc metadata once, never per-pair payloads).

    Raises inside the worker if a text holds a shingle outside
    ``universe`` — impossible when the universe was computed from the
    same deterministic relation (loud failure beats silent wrong
    counts)."""
    sig_of = _minhash_sig_fn(num_perm, w, seed)
    words = (universe.size + 63) >> 6

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("sig", T.ArrayType(T.LongType())),
                T.StructField("bm", T.BinaryType()),
            ]
        )
    )
    def sig_bm(texts: pd.Series) -> pd.DataFrame:
        sigs_out = []
        bms_out = []
        for t in texts:
            sigs_out.append(sig_of(t))
            hs = _cached_hset(t or "", w)
            idx = np.searchsorted(universe, hs)
            idx_c = np.minimum(idx, universe.size - 1)
            if not (universe[idx_c] == hs).all():
                raise RuntimeError(
                    "shingle outside the precomputed universe — the docs "
                    "relation is not the one the universe was built from"
                )
            bm = np.zeros(words, dtype=np.uint64)
            np.bitwise_or.at(
                bm, idx_c >> 6, np.uint64(1) << (idx_c & 63).astype(np.uint64)
            )
            bms_out.append(bm.tobytes())
        return pd.DataFrame({"sig": sigs_out, "bm": bms_out})

    docs = spread_to_parallelism(docs, "id")
    sigs = docs.select(
        F.col("id"), sig_bm(F.col("t")).alias("_sb")
    ).select("id", F.col("_sb.sig").alias("sig"), F.col("_sb.bm").alias("bm"))
    # the bucket hash uses the FULL signature values; the signature that
    # rides the shuffle for the estimate prefilter is truncated to
    # 7-bit codes (array<tinyint>, 64 B vs 512 B at 64 perms — measured
    # 5.7× collision→estimate reduction keeps the prefilter worth
    # shipping, and the estimate gathers two code rows per collision
    # pair, so code width is the stage's memory traffic).  Truncation
    # collisions (~1/128 per position) can only ADD estimate matches,
    # i.e. only let MORE pairs through to the exact popcount verify —
    # so this regime's verified output is a SUPERSET of the wide
    # (full-signature estimate) regime's, and every extra pair still
    # passes the exact-Jaccard threshold.
    return sigs.select(
        "id", "sig", "bm", _band_hashes(bands, num_perm // bands)
    ).select(
        "id",
        F.transform(
            "sig", lambda x: x.bitwiseAND(F.lit(127)).cast("tinyint")
        ).alias("sig"),
        "bm",
        "band",
        "bh",
    )


def _bucket_pairs_verified(
    banded_bm: DataFrame, num_perm: int, est_min: int, threshold_milli: int
) -> DataFrame:
    """LSH buckets → EXACT-verified near-dup pairs (id_a, id_b, inter,
    uni), fused into the single bucket stage.

    The same in-worker bucket kernel as :func:`_bucket_pairs_est`
    (:func:`_estimate_survivors`), then — instead of shipping
    ~10⁶-10⁷ estimate survivors to a separate text-attach + verify
    stage — each surviving pair's exact |A∩B| is one popcount(AND) over
    the docs' shingle bitmaps, right where the pair is born.  Only TRUE
    near-dup pairs (×bands duplicates) ever leave the worker (measured
    8.5M estimate survivors → 80 verified on the sf1.0 bench corpus),
    so the pair repartition, the two text joins and the 5 GB/query
    Arrow text transfer vanish (guide §2.4 "remove shuffles outright",
    §8 "decide with small rows").  The output is a SUPERSET of the
    est → attach → verify chain's, bounded by the exact-Jaccard
    threshold: the bitmap encodes exactly the hash-set membership that
    verifier probes, but the estimate prefilter here runs on 7-bit
    signature codes, whose collisions admit extra candidates — every
    one exact-verified, so each extra pair is a true near-duplicate."""
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("inter", T.LongType()),
            T.StructField("uni", T.LongType()),
        ]
    )
    lut = _POPCOUNT16

    def gen(it):
        df = _partition_frame(it)
        if df is None:
            return
        ids = df["id"].to_numpy(np.int64)
        bm_mat = np.vstack(
            [np.frombuffer(buf, dtype=np.uint64) for buf in df["bm"].to_numpy()]
        )
        nsh = lut[bm_mat.view(np.uint16)].sum(axis=1, dtype=np.int64)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_i: list[np.ndarray] = []
        out_u: list[np.ndarray] = []
        for ie, je in _estimate_survivors(df, num_perm, est_min):
            inter = lut[(bm_mat[ie] & bm_mat[je]).view(np.uint16)].sum(
                axis=1, dtype=np.int64
            )
            uni = nsh[ie] + nsh[je] - inter
            keep = inter * 1000 >= threshold_milli * uni
            if keep.any():
                ia = ids[ie[keep]]
                ib = ids[je[keep]]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_i.append(inter[keep])
                out_u.append(uni[keep])
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "inter": np.concatenate(out_i),
                    "uni": np.concatenate(out_u),
                }
            )

    out = banded_bm.repartition(F.col("band"), F.col("bh")).mapInPandas(
        gen, schema
    )
    # a pair sharing several bands is verified once per collision with
    # identical (inter, uni) — a plain distinct de-duplicates the tiny
    # survivor stream
    return out.distinct()


def _shingle_hash_set(t: str, w: int) -> np.ndarray:
    """Sorted distinct 64-bit polynomial hashes of the character
    ``w``-shingles of ``t`` (the whole string when shorter than ``w`` —
    same membership rule as the set-based verifier it replaced).

    Characters are the UTF-32 code points, so windows match Python
    string slicing exactly; hashing is the module's rolling polynomial
    (prefix products + inverse-power prefix sums, `_mix64` avalanche) —
    one numpy pass per text, no per-shingle Python."""
    t = t or ""
    cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(cps)
    if n == 0:
        return _mix64(np.zeros(1, dtype=np.uint64))
    if n < w:
        starts = np.array([0], dtype=np.int64)
        ends = np.array([n], dtype=np.int64)
    else:
        starts = np.arange(0, n - w + 1, dtype=np.int64)
        ends = starts + w
    with np.errstate(over="ignore"):
        pw = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_BASE, dtype=np.uint64)))
        )
        ivp = np.concatenate(
            ([np.uint64(1)], np.cumprod(np.full(n - 1, _POLY_INV, dtype=np.uint64)))
        )
        s = np.concatenate(([np.uint64(0)], np.cumsum(cps * ivp)))
        return np.unique(_mix64(pw[ends - 1] * (s[ends] - s[starts])))


# Worker-level shingle-hash-set memo: the same text recurs across MANY
# candidate pairs and Arrow batches (a doc with k candidates appears k
# times in the verify stage), and re-hashing it per batch dominated that
# stage.  Keyed by the text itself (content-addressed, so reuse across
# queries/corpora is always correct); cleared wholesale rather than
# LRU-tracked (guide §4.5: heavyweight init once per worker, amortized
# across batches via worker reuse).  Bounded by the BYTES of the cached
# hash sets, not by entry count: a set costs 8 B per distinct shingle
# (≈ 8 B per character of text), so an entry cap lets a corpus of long
# pages grow the memo without limit.  One Python worker runs per task
# slot, so the budget is per core: 256 MiB still holds ~32k distinct
# 1 kB pages and stays a small share of the usual 2-4 GiB per core of
# executor sizing.  The text keys add at most half again on top (4 B
# per character for non-Latin-1 text, 1 B for ASCII).
_HSET_CACHE: dict[tuple[str, int], np.ndarray] = {}
_HSET_CACHE_BUDGET = 256 << 20
_hset_cache_bytes = 0


def _cached_hset(t: str, w: int) -> np.ndarray:
    global _hset_cache_bytes
    key = (t, w)
    hs = _HSET_CACHE.get(key)
    if hs is None:
        hs = _shingle_hash_set(t, w)
        if _hset_cache_bytes + hs.nbytes > _HSET_CACHE_BUDGET:
            _HSET_CACHE.clear()
            _hset_cache_bytes = 0
        if hs.nbytes <= _HSET_CACHE_BUDGET:
            _HSET_CACHE[key] = hs
            _hset_cache_bytes += hs.nbytes
    return hs


# Shared-universe bitmaps (see _sigs_banded_bm): boilerplate corpora
# draw their shingles from a tiny shared universe (measured ~2,000
# distinct shingle hashes across 50k bench docs), so each doc
# compresses to V/64 uint64 words and a pair's exact intersection is
# popcount(A & B) — ~30 word-ops instead of gathering + binary-searching
# ~325 hash probes per pair.  The universe is discovered ONCE per query
# by a bounded aggregate (below); above the cap the wide regime's
# hash-set verifier (_verify_pairs_stage) runs instead.
_BITMAP_UNIVERSE_CAP = 8192
_POPCOUNT16 = np.unpackbits(
    np.arange(1 << 16, dtype=np.uint16).view(np.uint8)[:, None], axis=1
).sum(axis=1, dtype=np.uint8).reshape(-1, 2).sum(axis=1, dtype=np.uint8)


def _shingle_universe(docs: DataFrame, w: int) -> np.ndarray | None:
    """The corpus's distinct shingle-hash universe, or None when it is
    wider than `_BITMAP_UNIVERSE_CAP` (the driver action is bounded by
    the cap — a diverse 10^12-doc corpus short-circuits to None after
    cap+1 rows, it never materializes its shingle space)."""
    schema = T.StructType([T.StructField("h", T.LongType())])

    def local_unique(it):
        # int64 bit-view: LongType-safe transport of the uint64 hash
        # domain (values above 2^63 ride as negatives).  One np.unique
        # per partition — no per-element python; a partition whose own
        # distinct count exceeds the cap truncates to cap+1 rows, which
        # still drives the global count over the cap → None.
        chunks: list[np.ndarray] = []
        for df in it:
            chunks.extend(
                _cached_hset(t or "", w).view(np.int64) for t in df["t"]
            )
        if chunks:
            u = np.unique(np.concatenate(chunks))
            yield pd.DataFrame({"h": u[: _BITMAP_UNIVERSE_CAP + 1]})

    rows = (
        spread_to_parallelism(docs.select("id", "t"), "id")
        .select("t")
        .mapInPandas(local_unique, schema)
        .distinct()
        .limit(_BITMAP_UNIVERSE_CAP + 1)
        .collect()
    )
    if len(rows) > _BITMAP_UNIVERSE_CAP:
        return None
    signed = np.array([r["h"] for r in rows], dtype=np.int64)
    return np.sort(signed.view(np.uint64))


def _verify_pairs_stage(
    paired: DataFrame, w: int, threshold_milli: int
) -> DataFrame:
    """Candidate (id_a, id_b, ta, tb) rows → verified near-dup pairs
    (id_a, id_b, inter, uni) with exact shingle-Jaccard ≥ threshold —
    duplicate candidates (one per shared band) removed, verified, and
    filtered in ONE partition-level pass.

    The input must be partitioned so both copies of a pair co-locate
    (any partitioning on id_a does: duplicates agree on both ids).
    Per partition: unique (id_a, id_b) rows; distinct texts hashed once
    (worker-memoized, `_cached_hset`); the per-pair probes are gathered
    from one flat concatenation with a vectorized repeat/cumsum index —
    no per-pair numpy calls — and each id_a run costs a single
    ``searchsorted`` + ``add.reduceat``.  Only passing pairs are ever
    yielded, so the downstream plan sees the ~0.03% survivors, not the
    candidate stream."""
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("inter", T.LongType()),
            T.StructField("uni", T.LongType()),
        ]
    )

    def gen(it):
        df = _partition_frame(it)
        if df is None:
            return
        ia_raw = df["id_a"].to_numpy(np.int64)
        ib_raw = df["id_b"].to_numpy(np.int64)
        # partition-local distinct on the pair key (order-insensitive:
        # lexsort + adjacent-difference, no reliance on input order)
        perm = np.lexsort((ib_raw, ia_raw))
        ia_s, ib_s = ia_raw[perm], ib_raw[perm]
        first = np.ones(len(ia_s), dtype=bool)
        first[1:] = (np.diff(ia_s) != 0) | (np.diff(ib_s) != 0)
        sel = perm[first]
        sel.sort()  # keep text/pair rows aligned with the original frame
        ia, ib = ia_raw[sel], ib_raw[sel]
        texts = pd.concat(
            [df["ta"].iloc[sel], df["tb"].iloc[sel]], ignore_index=True
        ).fillna("")
        codes, uniq = pd.factorize(texts)
        m = len(ia)
        ca, cb = codes[:m], codes[m:]
        hsets = [_cached_hset(t, w) for t in uniq]
        sizes = np.fromiter((h.size for h in hsets), np.int64, len(hsets))
        # sort pairs by left code so each id_a group is a contiguous
        # run, then gather every pair's right-hand set from ONE flat
        # concatenation of the distinct hsets with a single vectorized
        # repeat+arange index — no per-pair numpy calls anywhere
        run = np.argsort(ca, kind="stable")
        ca_s, cb_s = ca[run], cb[run]
        flat = np.concatenate(hsets) if len(hsets) > 1 else hsets[0]
        offs = np.concatenate(([0], np.cumsum(sizes[:-1])))
        lens_b = sizes[cb_s]
        starts_b = offs[cb_s]
        total = int(lens_b.sum())
        bound = np.concatenate(([0], np.cumsum(lens_b)))
        gather = np.repeat(starts_b - bound[:-1], lens_b) + np.arange(total)
        probe = flat[gather]
        run_bounds = np.nonzero(np.diff(ca_s))[0] + 1
        grp_starts = np.concatenate(([0], run_bounds))
        grp_ends = np.concatenate((run_bounds, [m]))
        inters_s = np.empty(m, dtype=np.int64)
        for gs, ge in zip(grp_starts, grp_ends):
            ha = hsets[ca_s[gs]]
            seg = probe[bound[gs] : bound[ge]]
            loc = np.searchsorted(ha, seg)
            loc[loc == ha.size] = 0  # any in-range slot; equality decides
            eq = (ha[loc] == seg).astype(np.int64)
            inters_s[gs:ge] = np.add.reduceat(eq, bound[gs:ge] - bound[gs])
        inters = np.empty(m, dtype=np.int64)
        inters[run] = inters_s
        unis = sizes[ca] + sizes[cb] - inters
        keep = inters * 1000 >= threshold_milli * unis
        if keep.any():
            yield pd.DataFrame(
                {
                    "id_a": ia[keep],
                    "id_b": ib[keep],
                    "inter": inters[keep],
                    "uni": unis[keep],
                }
            )

    return paired.mapInPandas(gen, schema)


def _shingle_size_udf(w: int):
    """|distinct w-shingle set| per text — the (inter, uni) both equal
    this for an exact-duplicate pair, letting the expansion step emit
    within-group pairs without running the pair verifier on them."""

    @F.pandas_udf(T.LongType())
    def ssize(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [int(_shingle_hash_set(t, w).size) for t in texts.fillna("")]
        )

    return ssize


def _minhash_pairs_core(
    docs: DataFrame,
    num_perm: int,
    bands: int,
    threshold_milli: int,
    w: int,
    universe: np.ndarray | None,
) -> DataFrame:
    """signatures → fused LSH-bucket + estimate pair generation → exact
    per-pair Jaccard verify, over ``docs(id, t)``.  Candidates only —
    never the all-pairs inverted index.

    The signature-level Jaccard estimate (count of agreeing signature
    positions, threshold ``threshold_milli - 150``: the margin keeps
    the estimate's false-negative probability < 1% at 64 perms) is
    applied INSIDE the bucket stage (:func:`_estimate_survivors`), so
    raw bucket collisions are never shuffled, deduplicated, or
    re-joined against the signature table — only estimate survivors
    reach the exact verifier.

    ``universe`` is the corpus's shingle-hash universe
    (:func:`_shingle_universe`) and picks the regime:
      * small universe (boilerplate corpora): each doc's exact shingle
        set compresses to a V-bit bitmap that rides the bucket shuffle,
        and pairs are estimate-filtered on 7-bit signature codes AND
        exact-verified inside the bucket workers — only true near-dup
        pairs ever leave the stage (guide §2.4/§8);
      * None (universe above the cap): full-signature estimate in the
        bucket stage, then text attach → hash-set verify.
    Both regimes emit only pairs at or above the exact-Jaccard
    threshold with exact (inter, uni); the bitmap regime's output is a
    SUPERSET of the wide regime's, because 7-bit code collisions can
    only add estimate matches."""
    est_min = max(0, threshold_milli - 150) * num_perm
    if universe is not None:
        banded_bm = _sigs_banded_bm(docs, universe, num_perm, w, bands)
        return _bucket_pairs_verified(
            banded_bm, num_perm, est_min, threshold_milli
        )
    sigs = minhash_signatures(docs, "t", "id", num_perm, w)
    banded = _banded_sigs(sigs, bands, num_perm // bands)
    # one exchange between candidates and output: pairs co-partition on
    # id_a (both copies of a band-duplicated pair agree on both ids, so
    # any id_a partitioning co-locates them), texts attach by broadcast
    # join, and the verify stage dedups + verifies + filters in a
    # single partition-level pass — the pair-level distinct exchange
    # and the post-UDF filter both collapse into it (guide §2.4)
    cand = _bucket_pairs_est(banded, num_perm, est_min)
    cand = cand.repartition(F.col("id_a"))
    # (A broadcast-{id: text} variant that streamed only 16-byte id
    # pairs was measured SLOWER here: each task re-unpickles the
    # broadcast dict and every partition re-derives ~all right-hand
    # hash sets, costing more than the per-pair text transfer saves.
    # The broadcast joins below attach texts without moving the
    # candidate stream.)
    paired = (
        cand.join(docs.select(F.col("id").alias("id_a"), F.col("t").alias("ta")), "id_a")
        .join(docs.select(F.col("id").alias("id_b"), F.col("t").alias("tb")), "id_b")
    )
    return _verify_pairs_stage(paired, w, threshold_milli)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold_milli: int = 800,
    w: int = 5,
    expand: str = "all",
) -> DataFrame:
    """Full pipeline: **exact-text pre-collapse** → signatures → LSH
    candidates → exact-Jaccard verify within candidates → fan results
    back out through the exact-duplicate groups.  Returns
    (id_a, id_b, inter, uni) verified near-dup pairs; survivors follow
    the min-id rule downstream.

    Recall contract: every returned pair is exact (shingle Jaccard ≥
    ``threshold_milli``/1000, exact inter/uni), but not every such pair
    is returned.  A pair of Jaccard J becomes an LSH candidate with
    probability 1 − (1 − J^r)^b, r = num_perm / bands: with the default
    b = 16, r = 4 that is ≈ 0.64 at J = 0.5 (the threshold of the
    ``docs_minhash_pairs`` / ``docs_dup_groups`` queries) and ≈ 0.9998
    at J = 0.8.  Candidates must then agree on ≥ (threshold_milli − 150)
    milli of their signature positions (the estimate prefilter) before
    the exact verify.

    The pre-collapse is :func:`_collapse_expand` keyed on the sha2-256
    text digest (the key of :func:`exact_dedup`): n byte-identical
    boilerplate docs would land in the same (band, hash) bucket in
    *every* band, so the LSH stack (:func:`_minhash_pairs_core`) runs
    on one representative per distinct text.  The signature/estimate/
    verify stack is a pure function of the text, so a member pair
    passes iff its representative pair passes.

    ``expand`` controls the fan-out:
      * ``"all"`` — every implied member pair, with (inter, uni) taken
        from the representative pair (within-group pairs get
        inter = uni = |shingle set|).  Equal to the core run over the
        raw corpus; note the OUTPUT itself is inherently quadratic in
        exact-group size.
      * ``"star"`` — within each exact group emit only (rep, member)
        spanning pairs, and cross-group pairs only between
        representatives: O(n) output with identical connected
        components / dup_groups downstream — the form to use at scale.
    """
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    # the shingle universe of the RAW corpus equals the universe of its
    # distinct-text representatives (duplicate texts add no shingles) —
    # discover it BEFORE the collapse machinery so the bounded discovery
    # job scans the plain corpus instead of materializing the
    # sha2/groupBy/semi-join chain a first time
    universe = _shingle_universe(docs, w)
    return _collapse_expand(
        docs,
        F.sha2(F.coalesce(F.col("t"), F.lit("")), 256),
        lambda reps: _minhash_pairs_core(
            reps, num_perm, bands, threshold_milli, w, universe
        ),
        _shingle_size_udf(w)(F.col("t")),
        expand,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over ASCII-whitespace tokens (Arrow-batched).

    Per document the token hashing is the vectorized prefix-product
    polynomial hash (`_token_hashes`) and the bit votes are one
    (tokens × bits) matrix op — the same zero-per-token-Python shape as
    `minhash_signatures`."""

    @F.pandas_udf(T.LongType())
    def sig(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        shifts = np.arange(bits, dtype=np.uint64)
        for i, t in enumerate(texts):
            arr = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
            hv = _token_hashes(arr)
            if not len(hv):
                continue
            bitcols = ((hv[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (2 * bitcols - 1).sum(axis=0)
            word = np.bitwise_or.reduce(
                np.uint64(1) << shifts[votes > 0], initial=np.uint64(0)
            )
            out[i] = np.int64(word & np.uint64(0x7FFFFFFFFFFFFFFF))
        return pd.Series(out)

    df = spread_to_parallelism(df, id_col)
    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    expand: str = "all",
) -> DataFrame:
    """Pairs of ``sigs(id, simhash)`` within Hamming distance
    ``max_hamming`` → (id_a, id_b, hamming).

    Identical texts hash to identical signatures, which collide in
    EVERY block — n boilerplate copies would put n ids in the same
    bucket per block.  So the banding join (:func:`_simhash_pairs_core`)
    runs over one representative per distinct signature (min id —
    stricter than, and subsuming, exact-text identity) through
    :func:`_collapse_expand`, which fans the pairs back out:
    ``expand="all"`` gives every implied member pair (hamming 0 within
    a signature group — equal to the core run over the raw signatures,
    though the output itself is quadratic in group size);
    ``expand="star"`` gives (rep, member) spanning pairs within groups
    and rep-level pairs across — O(n) output with identical connected
    components downstream.  Every block bucket pairs in full, so recall
    at ``max_hamming`` is total."""
    return _collapse_expand(
        sigs,
        F.col("simhash"),
        lambda reps: _simhash_pairs_core(reps, max_hamming),
        F.lit(0).cast("int"),
        expand,
    )


def _simhash_pairs_core(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Candidate pairs within Hamming distance via block banding,
    verified with native bit_count (Spark 3.5+).

    The signature is split into ``max_hamming + 1`` near-equal bit
    blocks — by pigeonhole, any pair ≤ max_hamming bits apart shares at
    least one full block, so recall is GUARANTEED at the requested
    radius (a fixed 4-block split only guarantees hamming ≤ 3)."""
    n_blocks = min(max_hamming + 1, 64)
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = np.concatenate(([0], np.cumsum(widths[:-1]))).tolist()
    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", int(off)).bitwiseAND(
                        # width 64 (max_hamming=0): (1<<64)-1 overflows
                        # LongType — -1 is the all-ones long
                        F.lit((1 << wid) - 1 if wid < 64 else -1)
                    )
                    for off, wid in zip(offsets, widths)
                ]
            )
        ).alias("blk", "bval"),
    )
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["blk", "bval"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.alias("hamming")
    )


# ---------------------------------------------------------------------------
# Connected components (pairs → canonical duplicate groups)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Label every node of the near-dup pair graph ``pairs(id_a, id_b)``
    with the MINIMUM id reachable from it — the canonical duplicate-group
    id.  Returns (id, comp); survivors downstream are the rows with
    ``id == comp``.

    The last step of a web-scale dedup pipeline: LSH/verify emits
    PAIRS, but retention decisions need GROUPS (a doc duplicated 3 ways
    must keep exactly one copy, not one per pair).  The reference has
    no graph step (its duplicate handling is per-scene first-wins,
    `eodal/mapper/mapper.py:565-667`); this generalizes it to
    transitive duplicate chains.

    Algorithm: the two-phase star contraction of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC 2014) —
    alternate large-star / small-star until the edge set is a fixed
    point, at which point the edges ARE disjoint stars centered on each
    component's minimum id.  Both steps are agg-shaped (groupBy min +
    equi-join, map-side combine; no Window, so a 10^9-member
    boilerplate component has no single-task hotspot), and the
    alternations needed grow logarithmically in the node count on ANY
    graph (O(log² n) proven, ~log n seen) — a 10⁴-node path converges
    in 16, where propagating min labels would need 10⁴ rounds.  Each
    alternation is checkpointed (lineage stays flat) and checked for
    the fixed point by one count of the edges it changed (the
    symmetric difference of the old and new edge sets).  Raises
    after ``max_iters`` alternations rather than returning a
    silently-partial labeling.

    ``pairs`` is read ONCE: its canonical (greatest, least) edges are
    checkpointed, and both the contraction edges (u != v) and the nodes
    that appear only in self-pairs (u == v, labeled with themselves)
    come from that checkpoint — actions on the result never re-run the
    upstream pair pipeline."""
    canon = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = canon.filter(F.col("u") != F.col("v"))
    for _ in range(max_iters):
        ss = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # both edge sets are distinct, so an edge in exactly one of them
        # appears once in their union: no such edge is the fixed point
        changed = (
            ss.union(edges).groupBy("u", "v").count()
            .filter(F.col("count") == 1).count()
        )
        edges = ss
        if changed == 0:
            leaves = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
            roots = (
                edges.select(F.col("v").alias("id"))
                .distinct()
                .withColumn("comp", F.col("id"))
            )
            self_only = canon.filter(F.col("u") == F.col("v")).select(
                F.col("u").alias("id"), F.col("u").alias("comp")
            )
            # a star fixed point has one root per leaf; the min-agg
            # merges a self-paired node with its star label
            return leaves.union(roots).union(self_only).groupBy("id").agg(
                F.min("comp").alias("comp")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "the pair graph needs more star-contraction rounds; raise max_iters"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation (Kiveris et al., alg. 1): every node u
    links each STRICTLY LARGER neighbor to the minimum of its closed
    neighborhood.  Input/output edges are canonically oriented (u > v);
    agg-shaped (groupBy min + equi-join), no windows, no driver state."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: orient edges larger→smaller; every
    node links its smaller neighbors (and itself) to their minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    joined = directed.join(mins, "u")
    return (
        joined.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def dup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, group_id) for EVERY document: members of a near-dup
    component of ``pairs(id_a, id_b)`` share its minimum doc id (the
    star contraction of :func:`connected_components`, which raises
    rather than return a partial labeling); singletons are their own
    group.  ``df.filter(doc_id == group_id)`` is then the retention
    set."""
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("group_id"),
        )
    )
