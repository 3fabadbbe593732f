"""Similarity search over embedding columns (array<float>).

Baseline: brute-force top-k (broadcast queries × corpus scan — one pass,
no corpus shuffle).  Scale path: LSH-bucketed ANN via signed random
projections (the embedding analogue of the grid's cell bucketing).

Numeric policy: distances for oracle-gated queries use **decimal
arithmetic** (cast each component to decimal(12,9), exact sums) so
rankings are bit-identical to the DuckDB oracle; the cosine variant
(float, transcendental-free but order-sensitive among ~1.0 ties) is
gated on planted-SET membership — scale-invariance makes the top-k
*set* exact while rank order among ties is float-dependent
(`emb_cosine_topk`).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from eodal_spark.operators.dedup import _collapse_expand, connected_components
from eodal_spark.plans.introspect import spread_to_parallelism
from eodal_spark.session import local_frame


Q7 = 10_000_000.0  # quantization scale for the integer-exact metric


def _q7(c: Column) -> Column:
    return F.floor(c.cast("double") * F.lit(Q7)).cast("long")


def l2_sqdist_q7(a: Column, b: Column) -> Column:
    """Integer-exact squared L2 on floor(x·10^7)-quantized components.

    Unlike a decimal cast, ``floor`` has no rounding *mode*, so the value
    is bit-identical in any engine computing IEEE doubles — this is the
    metric used for oracle-gated rankings.  Quantization error (1e-7 per
    component) is far below any meaningful neighbour gap."""
    d = F.zip_with(a, b, lambda x, y: _q7(x) - _q7(y))
    return F.aggregate(
        d, F.lit(0).cast("long"), lambda acc, v: acc + v * v
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Float cosine similarity — native zip_with/aggregate (no UDF)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def _rank_topk(cand: DataFrame, k: int, order_col: str, asc: bool) -> DataFrame:
    order = [
        F.col(order_col).asc() if asc else F.col(order_col).desc(),
        F.col("vec_id").asc(),
    ]
    w = Window.partitionBy("query_id").orderBy(*order)
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk_l2(
    queries: DataFrame, corpus: DataFrame, k: int
) -> DataFrame:
    """queries: (query_id, qvec); corpus: (vec_id, embedding).
    Returns (query_id, vec_id, sqdist, rank) — integer-exact quantized
    ranking, tie-broken by vec_id. Corpus scans once; queries broadcast."""
    spread = spread_to_parallelism(corpus, "vec_id")
    cand = spread.crossJoin(F.broadcast(queries)).withColumn(
        "sqdist", l2_sqdist_q7(F.col("embedding"), F.col("qvec"))
    )
    return _rank_topk(cand, k, "sqdist", asc=True).select(
        "query_id", "vec_id", "sqdist", "rank"
    )


def brute_force_topk_cosine(
    queries: DataFrame, corpus: DataFrame, k: int
) -> DataFrame:
    spread = spread_to_parallelism(corpus, "vec_id")
    cand = spread.crossJoin(F.broadcast(queries)).withColumn(
        "sim", cosine_sim(F.col("embedding"), F.col("qvec"))
    )
    return _rank_topk(cand, k, "sim", asc=False).select(
        "query_id", "vec_id", "sim", "rank"
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (signed random projections)
# ---------------------------------------------------------------------------

def srp_bucket_udf(dim: int, n_planes: int = 12, seed: int = 42):
    """Signed-random-projection bucket id (Arrow-batched numpy matmul).
    Vectors with small angle land in the same bucket w.h.p. — the
    embedding-space analogue of `grid.cell_encode`."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(dim, n_planes))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        signs = (m @ planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def ann_topk_srp(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: `n_tables` independent SRP hash tables;
    candidates = bucket collisions in any table; exact quantized
    re-rank within candidates.  Recall grows with n_tables.

    ONE corpus pass: all tables' bucket ids are computed as columns of
    a single scan and exploded to (tbl, bucket) rows — the historical
    per-table union re-ran the SRP UDF and the broadcast join once per
    branch (n_tables corpus scans and Python stages; guide §2.4).
    Candidate set is identical: a (query, vec) pair collides in the
    stacked join iff it collides in some table's join."""
    spread = spread_to_parallelism(corpus, "vec_id")
    ctables = [
        srp_bucket_udf(dim, n_planes, seed=1000 + t)(F.col("embedding")).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    cbuck = spread.select("vec_id", "embedding", *ctables).select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select(
        "vec_id", "embedding",
        F.col("_tb.tbl").alias("tbl"), F.col("_tb.bucket").alias("bucket"),
    )
    qtables = [
        srp_bucket_udf(dim, n_planes, seed=1000 + t)(F.col("qvec")).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    qbuck = queries.select("query_id", "qvec", *qtables).select(
        "query_id",
        "qvec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select(
        "query_id", "qvec",
        F.col("_tb.tbl").alias("tbl"), F.col("_tb.bucket").alias("bucket"),
    )
    cand = (
        cbuck.join(F.broadcast(qbuck), ["tbl", "bucket"])
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("sqdist", l2_sqdist_q7(F.col("embedding"), F.col("qvec")))
    )
    return _rank_topk(cand, k, "sqdist", asc=True).select(
        "query_id", "vec_id", "sqdist", "rank"
    )


def _train_sample_matrix(corpus: DataFrame, sample: int) -> np.ndarray:
    """Deterministic spread driver sample as one float64 matrix.

    Order by a hash of vec_id so the sample isn't the lowest-id prefix
    (vec_id usually correlates with insertion time/source); runs as
    TakeOrderedAndProject (per-partition top-k + merge, no full sort),
    reproducible under any partition layout.  Arrow collect (toPandas):
    a plain .collect() of 10k array<double> rows crosses py4j as
    pickled Row objects - measured ~3 s per trainer at the 10k sample
    cap; the Arrow path is ~10x cheaper for exactly this columnar
    shape (guide 6, "Arrow for driver transfers")."""
    pdf = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(sample)
        .toPandas()
    )
    if pdf.empty:
        raise ValueError(
            "empty corpus sample; cannot train the quantizer - the "
            "corpus DataFrame has no rows (or no embedding values)"
        )
    return np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"].to_numpy()]
    )


def ivf_train_centroids(
    corpus: DataFrame, n_centroids: int, sample: int = 10_000,
    iters: int = 10, seed: int = 42, sample_mtx=None,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a driver-side sample
    (Lloyd's, numpy).  At 10^12 scale the sample is still tiny — the
    quantizer is a model artifact, not a data pass."""
    m = (
        sample_mtx
        if sample_mtx is not None
        else _train_sample_matrix(corpus, sample)
    )
    n_centroids = min(n_centroids, len(m))  # tiny corpora: one list per row
    rng = np.random.RandomState(seed)
    cent = m[rng.choice(len(m), n_centroids, replace=False)]
    for _ in range(iters):
        d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(n_centroids):
            members = m[assign == c]
            if len(members):
                cent[c] = members.mean(0)
    return cent


def ivf_assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment (numpy matmul)."""
    cent = centroids.astype(np.float64)
    cent_sq = (cent**2).sum(1)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        d = (m**2).sum(1)[:, None] - 2 * (m @ cent.T) + cent_sq[None, :]
        return pd.Series(d.argmin(1).astype(np.int32))

    return assign


def ivf_probe_udf(centroids: np.ndarray, n_probe: int):
    """Arrow-batched ``n_probe``-nearest-centroid list assignment — the
    relational (executor-side) form of the probe planning, for query
    sides too large to collect."""
    cent = centroids.astype(np.float64)
    cent_sq = (cent**2).sum(1)
    n_probe = min(n_probe, len(cent))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        d = (m**2).sum(1)[:, None] - 2 * (m @ cent.T) + cent_sq[None, :]
        idx = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(idx))

    return probes


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    probe_query_cap: int = 16_384,
) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid (one map-side pass);
    each query probes its ``n_probe`` nearest centroid lists; exact
    integer-quantized re-rank within candidates.  The inverted-list
    analogue of `grid`'s cell bucketing, for embedding space.

    Probe planning is bounded: at most ``probe_query_cap``+1 query
    rows are collected for the driver-side path; a larger query side
    switches to the
    relational plan — :func:`ivf_probe_udf` assigns probe lists on the
    executors (the centroid matrix is a tiny closure broadcast), the
    lists explode to (query_id, qvec, ivf_list) rows, and Spark's own
    size estimate decides the join strategy — so 10⁷ query vectors can
    never OOM the driver."""
    cent = ivf_train_centroids(corpus, n_centroids, seed=seed)
    assign = ivf_assign_udf(cent)
    bucketed = corpus.withColumn("ivf_list", assign(F.col("embedding")))

    qrows = queries.limit(probe_query_cap + 1).collect()
    if len(qrows) <= probe_query_cap:
        # driver-side probe lists (query side provably small/broadcast)
        probe_rows = []
        for r in qrows:
            qv = np.asarray(r["qvec"], dtype=np.float64)
            d = ((cent - qv) ** 2).sum(1)
            for c in np.argsort(d)[:n_probe]:
                probe_rows.append((int(r["query_id"]), list(r["qvec"]), int(c)))
        probe_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("qvec", T.ArrayType(T.FloatType()), False),
                T.StructField("ivf_list", T.IntegerType(), False),
            ]
        )
        probes = F.broadcast(
            local_frame(queries.sparkSession, probe_rows, probe_schema)
        )
    else:
        plan = ivf_probe_udf(cent, n_probe)
        probes = queries.select(
            "query_id",
            "qvec",
            F.explode(plan(F.col("qvec"))).alias("ivf_list"),
        )

    cand = bucketed.join(probes, "ivf_list").withColumn(
        "sqdist", l2_sqdist_q7(F.col("embedding"), F.col("qvec"))
    )
    return _rank_topk(cand, k, "sqdist", asc=True).select(
        "query_id", "vec_id", "sqdist", "rank"
    )


def _quantize_vec(c: Column) -> Column:
    return F.transform(c, lambda x: _q7(x))


def _gram_block_pairs(
    rows: DataFrame,
    vec: str,
    keys: list[str],
    test: Callable,
    val: T.StructField | None = None,
) -> DataFrame:
    """(id, ``vec``, key…) rows → (id_a < id_b[, val]) pairs of rows
    sharing every key that pass ``test``, found by gram-matrix blocks
    inside the workers.

    Replaces a key self-join with a per-pair codegen'd metric: a
    1k-row bucket emits ~500k join rows each evaluating a 64-term
    zip_with/aggregate expression, while here rows are sorted by key,
    then id (so i < j ⇒ id_i < id_j within a group), and each group is
    walked in 1024-row blocks against the whole group, keeping j > i:
    only the pairs that pass are materialized (guide §1.2/§2.3).
    ``test(a, b)`` takes a block ``a`` and the group ``b`` as float64
    matrices and returns (hit mask, values or None); the values fill
    ``val`` (see :func:`_q7_sqdist_test`, :func:`_dot_test`)."""
    schema = T.StructType(
        [T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType())]
        + ([val] if val is not None else [])
    )

    def gen(it):
        frames = list(it)
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        if df.empty:
            return
        ids = df["id"].to_numpy(np.int64)
        kv = np.stack([df[k].to_numpy(np.int64) for k in keys], axis=1)
        order = np.lexsort((ids, *kv.T[::-1]))
        ids = ids[order]
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in df[vec].to_numpy()[order]]
        )
        change = (np.diff(kv[order], axis=0) != 0).any(axis=1)
        starts = np.concatenate(([0], np.nonzero(change)[0] + 1, [len(ids)]))
        out = []
        for s, e in zip(starts[:-1], starts[1:]):
            if e - s < 2:
                continue
            bm, bids = mat[s:e], ids[s:e]
            for cs in range(0, e - s, 1024):
                hit, v = test(bm[cs : cs + 1024], bm)
                ii, jj = np.nonzero(hit)
                keep = jj > ii + cs
                if keep.any():
                    ii, jj = ii[keep], jj[keep]
                    out.append((bids[ii + cs], bids[jj], None if v is None else v[ii, jj]))
        if out:
            # zip stops at the schema: a test without values adds none
            yield pd.DataFrame(
                {n: np.concatenate(c) for n, c in zip(schema.names, zip(*out))}
            )

    return rows.repartition(*[F.col(k) for k in keys]).mapInPandas(gen, schema)


def _q7_sqdist_test(threshold: float):
    """Block test: q7 sqdist ≤ ``threshold``, as the int64 gram form
    ‖a‖² + ‖b‖² − 2·a·b over the floor(x·10⁷) grid — exactly the
    integer metric of :func:`l2_sqdist_q7`, so bit-identical to it."""

    def test(a, b):
        qa = np.floor(a * 1e7).astype(np.int64)
        qb = np.floor(b * 1e7).astype(np.int64)
        d = (qa * qa).sum(axis=1)[:, None] + (qb * qb).sum(axis=1)[None, :] - 2 * (
            qa @ qb.T
        )
        return d <= threshold, d

    return test


def _dot_test(tau: float):
    """Block test: float64 dot ≥ ``tau`` (cosine on unit vectors).
    The matmul accumulates in float64 like the sequential codegen sum;
    orderings can differ only by ~1 ulp, immaterial at any tau margin
    wider than ~1e-12 (SemDeDup's fixtures sit 0.43 away)."""

    def test(a, b):
        return a @ b.T >= tau, None

    return test


def _srp_near_pairs(
    rows: DataFrame,
    sqdist_threshold: float,
    dim: int,
    n_planes: int | None,
    n_tables: int,
    target_bucket_rows: int,
    max_bucket_rows: int,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, q7 ``sqdist``) of ``rows(id,
    embedding)`` by SRP bucketing — the representative-level core of
    :func:`embedding_near_dup_pairs`, which documents the arguments."""
    if n_planes is None:
        n_rows = rows.count()  # one cheap agg; sizes the bucket space
        n_planes = max(4, int(np.ceil(np.log2(max(n_rows / target_bucket_rows, 2.0)))))

    # one scan: every table's bucket id as a column, then explode
    tables = [
        srp_bucket_udf(dim, n_planes, seed=2000 + t)(F.col("embedding")).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    stacked = rows.select("id", "embedding", *tables).select(
        "id",
        "embedding",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bucket"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    ).select("id", "embedding", F.col("_tb.tbl").alias("tbl"), F.col("_tb.bucket").alias("bucket"))

    # persist: the guard's sizes, the self-join's build side and its
    # probe side would otherwise each rerun the n_tables SRP UDFs over
    # the corpus (callers may unpersist the result's lineage)
    stacked = stacked.persist()
    top = stacked.groupBy("tbl", "bucket").count().orderBy(F.desc("count")).first()
    if top is not None and top["count"] > max_bucket_rows:
        stacked.unpersist()
        raise ValueError(
            f"SRP bucket (table {top['tbl']}, bucket {top['bucket']}) has "
            f"{top['count']:,} rows (> {max_bucket_rows:,}); raise n_planes "
            f"(got {n_planes}) or lower target_bucket_rows"
        )

    # pairs generated by per-bucket int64 gram-matrix blocks inside the
    # workers (bit-identical q7 metric) — see _gram_block_pairs for why
    # the self-join + codegen distance form was the bottleneck;
    # duplicates across tables are dropped after the exact filter
    return _gram_block_pairs(
        stacked.select("id", "embedding", "tbl", "bucket"),
        "embedding",
        ["tbl", "bucket"],
        _q7_sqdist_test(float(sqdist_threshold)),
        T.StructField("sqdist", T.LongType()),
    ).dropDuplicates(["id_a", "id_b"])


def embedding_near_dup_pairs(
    corpus: DataFrame,
    sqdist_threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_tables: int = 4,
    target_bucket_rows: int = 1024,
    max_bucket_rows: int = 200_000,
    expand: str = "all",
    max_group_size: int = 2_000,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, quantized-exact
    ``sqdist``), engineered for 10^12-row corpora:

    1. **exact-duplicate collapse** — :func:`dedup._collapse_expand`
       keyed on the q7-quantised vector: identical vectors group to one
       representative (min id) and only representatives enter SRP
       bucketing (:func:`_srp_near_pairs`).  This removes the classic
       skew killer (millions of identical empty-doc embeddings landing
       in one SRP bucket — no number of extra planes can split
       identical vectors).  Quantized-identical vectors have the SAME
       q7 distance to any third vector, so the fan-out is exact:
       ``expand="all"`` (default) gives every member pair, with
       within-group pairs at sqdist 0, equal to the all-pairs
       definition — linear in the *output* size, the irreducible cost
       of the pairs contract itself.  Because a duplicate group's
       clique is quadratic in its size AND lands on one join key
       (unsplittable), groups larger than ``max_group_size`` fail fast
       with guidance; ``expand="star"`` emits the linear
       representative→member pairs instead of the clique (the right
       contract for survivor-selection dedup).
    2. **adaptive plane count** — ``n_planes`` defaults to
       log2(|reps| / target_bucket_rows), so expected bucket size stays
       ~``target_bucket_rows`` at any corpus size instead of the
       quadratic blowup of a fixed 2^8 buckets.
    3. **bucket-size guard** — like `geometry.polygon_cover_cells`'s
       covering guard: fails fast with stats if any (table, bucket)
       still exceeds ``max_bucket_rows``; no bucket is ever dropped
       from pairing, so no pair is lost silently.

    All ``n_tables`` hash tables are computed in ONE corpus scan and
    exploded to (table, bucket) rows; candidates shuffle once on the
    (table, bucket) key; the exact q7 distance filter runs before
    dropDuplicates so only true near-pairs are deduped.

    Caching note: intermediates (the collapse mapping, the bucketing)
    are persisted because the guards make this operator eager and the
    pair stage reuses them; they stay cached for the returned
    DataFrame's lifetime — long-lived sessions issuing many calls
    should ``spark.catalog.clearCache()`` between them."""
    return _collapse_expand(
        corpus.select(F.col("vec_id").alias("id"), "embedding"),
        _quantize_vec(F.col("embedding")),
        lambda reps: _srp_near_pairs(
            reps, sqdist_threshold, dim, n_planes, n_tables,
            target_bucket_rows, max_bucket_rows,
        ),
        F.lit(0).cast("long"),
        expand,
        max_group=max_group_size,
    )


def normalize_vec(c: Column) -> Column:
    """Unit-L2-normalized ``array<double>`` — native transform/aggregate
    (no UDF).  Squares, the sequential sum, sqrt, and the divisions are
    single IEEE-double ops, so a vector scaled by an exact power of two
    normalizes to the BIT-IDENTICAL unit vector (norm scales exactly,
    the quotient is one correctly-rounded division) — the property the
    semantic-dedup oracle fixture is built on."""
    sq = F.transform(c, lambda x: x.cast("double") * x.cast("double"))
    nrm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))
    return F.transform(c, lambda x: x.cast("double") / nrm)


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.95,
    n_clusters: int = 64,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    max_cluster_rows: int = 50_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column — k-means clusters
    bound the comparison space, pairwise cosine ≥ ``tau`` within each
    cluster defines duplication, one representative (min id) per
    connected group survives.  The published recipe behind LAION /
    web-text semantic pruning, here compiled onto the engine's IVF +
    connected-components primitives.

    Returns ``(vec_id, comp, keep)`` for EVERY corpus row: ``comp`` is
    the minimum id reachable through ≥``tau`` similarity links,
    ``keep`` marks the survivor per group.

    Engine shape (scale analysis for 10^12 rows):

    * **normalize natively** (`normalize_vec` — whole-stage codegen);
      on unit vectors cosine is a plain dot product, so the pair
      predicate needs no per-pair norms;
    * **exact-collapse first** (`dedup._collapse_expand`, the
      hot-bucket defense every near-dup operator shares): vectors
      identical under q7 quantization group to one representative, so a
      million identical embeddings cost ONE cluster row, not a 10^12
      single-key pair clique — its ``"star"`` fan-out re-attaches the
      members linearly as (representative, member) links;
    * **cluster-bucketed pairing**: representatives self-join on their
      nearest-centroid assignment only (SemDeDup's core trick — the
      corpus never sees an all-pairs join); the join key is the cluster
      id, expected cluster size is |reps| / ``n_clusters``, and a
      natural cluster over ``max_cluster_rows`` (whose pair walk would
      still go quadratic) fails fast rather than being dropped — size
      ``n_clusters`` ~ |corpus| / 10^4 at scale;
    * centroid training is a driver-side numpy k-means on a
      hash-spread sample (`ivf_train_centroids`), assignment is one
      Arrow-batched matmul pass (`ivf_assign_udf`) — the quantizer is a
      model artifact, not a data pass.

    The reference's closest surface is per-scene duplicate detection
    (`eodal/mapper/mapper.py:565-667` first-wins on identical scene
    timestamps); this generalizes it to similarity-defined duplicate
    groups.

    Caching note: the collapse mapping and the cluster assignment stay
    persisted for the returned plan's lifetime (the guard makes the operator eager) — long-lived sessions
    should ``spark.catalog.clearCache()`` between unrelated calls."""
    def cluster_pairs(reps: DataFrame) -> DataFrame:
        cent = ivf_train_centroids(
            reps.select(F.col("id").alias("vec_id"), F.col("nvec").alias("embedding")),
            n_centroids=n_clusters,
            sample=sample,
            iters=iters,
            seed=seed,
        )
        assigned = reps.select(
            "id", "nvec", ivf_assign_udf(cent)(F.col("nvec")).alias("cl")
        ).persist()
        top = (
            assigned.groupBy("cl").count()
            .filter(F.col("count") > max_cluster_rows)
            .orderBy(F.desc("count"))
            .first()
        )
        if top is not None:
            raise ValueError(
                f"cluster {top['cl']} holds {top['count']:,} "
                f"representatives (> {max_cluster_rows:,}); its pair join "
                "is quadratic on one key — raise n_clusters (target "
                "|corpus|/n_clusters ≈ 10^3-10^4)"
            )
        # unit vectors: cosine ≡ dot product (no per-pair norms); one
        # float64 gram block walk per cluster replaces the cluster
        # self-join whose per-pair 64-term codegen dot made SemDeDup
        # quadratic in wall-clock (measured 55 s → ~3 s at 22k reps / 8
        # clusters)
        return _gram_block_pairs(assigned, "nvec", ["cl"], _dot_test(float(tau)))

    rows = corpus.select(
        F.col("vec_id").alias("id"), normalize_vec(F.col("embedding")).alias("nvec")
    )
    # the star fan-out links exact-duplicate members to their
    # representative (cosine 1)
    edges = _collapse_expand(
        rows, _quantize_vec(F.col("nvec")), cluster_pairs, None, "star"
    )
    comp = connected_components(edges)
    out = (
        corpus.select("vec_id")
        .join(
            comp.select(F.col("id").alias("vec_id"), "comp"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("comp", "vec_id").alias("comp"),
        )
        .withColumn("keep", F.col("comp") == F.col("vec_id"))
    )
    return out


# -- IVF-PQ: product-quantized ANN -----------------------------------
#
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011): split the embedding space into m orthogonal
# subspaces, k-means each, and store per vector only the m code ids —
# the index the large-scale systems (FAISS IVFPQ) actually ship.  At
# 10^12 vectors × 64 float32 dims the raw corpus is ~256 TB; the
# m=8/n_codes=256 code table is ~8 TB — the difference between "scan
# embeddings" and "fits in cluster page cache".  The candidate join
# here ships ONLY (vec_id, ivf_list, codes); full vectors are fetched
# for the top-``rerank`` candidates per query alone.


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    sample_mtx=None,
) -> list:
    """Per-subspace k-means codebooks: ``m`` entries of
    ``(dim_indices, centroids[n_codes, sub_dim])``.  Trained on the
    same hash-spread driver sample as :func:`ivf_train_centroids` —
    a model artifact (a few KB), not a data pass; every executor gets
    it as a closure constant."""
    mtx = (
        sample_mtx
        if sample_mtx is not None
        else _train_sample_matrix(corpus, sample)
    )
    dim = mtx.shape[1]
    if m > dim:
        raise ValueError(f"m={m} subspaces > {dim} dims")
    splits = np.array_split(np.arange(dim), m)
    k = min(n_codes, len(mtx))  # tiny corpora: one code per sample row
    rng = np.random.RandomState(seed)
    books = []
    for idx in splits:
        sub = mtx[:, idx]
        cent = sub[rng.choice(len(sub), k, replace=False)].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        books.append((idx, cent))
    return books


def pq_encode_udf(books: list):
    """Arrow-batched PQ encoder: embedding → ``array<int>`` of ``m``
    code ids (nearest codebook entry per subspace, numpy matmul).
    One map-side pass over the corpus — the compression step."""
    idxs = [np.asarray(i) for i, _ in books]
    cents = [c.astype(np.float64) for _, c in books]
    cent_sqs = [(c**2).sum(1) for c in cents]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        mtx = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(mtx), len(idxs)), dtype=np.int32)
        for j, (idx, cent, csq) in enumerate(zip(idxs, cents, cent_sqs)):
            sub = mtx[:, idx]
            d = (sub**2).sum(1)[:, None] - 2 * (sub @ cent.T) + csq[None, :]
            codes[:, j] = d.argmin(1).astype(np.int32)
        return pd.Series(list(codes))

    return encode


def _pq_lut(books: list, qvec: np.ndarray) -> list:
    """ADC lookup table for ONE query: flat ``m·k`` doubles, entry
    ``j·k + c`` = squared L2 distance from the query's j-th subvector
    to codebook entry c."""
    out = []
    for idx, cent in books:
        sub = qvec[idx]
        out.extend(((cent - sub[None, :]) ** 2).sum(1).tolist())
    return out


def pq_lut_udf(books: list):
    """Arrow-batched LUT builder — the relational (executor-side) form
    of the per-query ADC table, for query sides too large to collect."""
    idxs = [np.asarray(i) for i, _ in books]
    cents = [c.astype(np.float64) for _, c in books]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def lut(vecs: pd.Series) -> pd.Series:
        mtx = np.stack(vecs.to_numpy()).astype(np.float64)
        out = []
        for row in mtx:
            flat = []
            for idx, cent in zip(idxs, cents):
                flat.extend(((cent - row[idx][None, :]) ** 2).sum(1).tolist())
            out.append(flat)
        return pd.Series(out)

    return lut


def adc_dist(codes: Column, lut: Column, m: int, k: int) -> Column:
    """Asymmetric-distance estimate: sum of ``m`` LUT entries selected
    by the vector's codes — pure Catalyst (aggregate over a constant
    sequence + element_at), whole-stage-codegen'd, no Python in the
    per-candidate hot path."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(lut, j * k + F.element_at(codes, j + 1) + 1),
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 64,
    seed: int = 42,
    probe_query_cap: int = 16_384,
) -> DataFrame:
    """IVF-PQ ANN: coarse inverted lists bound the candidate space
    (≡ :func:`ivf_topk`), per-candidate distance is ESTIMATED from the
    m-byte PQ codes via the query's ADC lookup table (no embedding
    shipped), the top ``rerank`` estimates per query are re-ranked
    EXACTLY against their true vectors, and the final top-``k`` uses
    the same integer-quantized metric as the brute baseline.

    Scale shape: the only full-corpus pass is the map-side
    encode/assign projection; the probe join ships codes (m ints), not
    embeddings; exact vectors are fetched for |Q|·rerank rows via an
    equi-join on vec_id.  Probe planning follows the bounded-collect
    discipline of :func:`ivf_topk` (``probe_query_cap`` + relational
    fallback), so neither side can OOM the driver."""
    if rerank < k:
        rerank = k
    # ONE Arrow sample collect feeds both trainers
    smtx = _train_sample_matrix(corpus, 10_000)
    cent = ivf_train_centroids(corpus, n_centroids, seed=seed, sample_mtx=smtx)
    books = pq_train_codebooks(
        corpus, m=m, n_codes=n_codes, seed=seed, sample_mtx=smtx
    )
    k_codes = len(books[0][1])
    assign = ivf_assign_udf(cent)
    encode = pq_encode_udf(books)
    # the compact index relation: at scale this is the ONLY thing the
    # candidate join scans (codes ≈ m small ints vs dim floats)
    encoded = corpus.select(
        "vec_id",
        assign(F.col("embedding")).alias("ivf_list"),
        encode(F.col("embedding")).alias("codes"),
    )

    qrows = queries.limit(probe_query_cap + 1).collect()
    if len(qrows) <= probe_query_cap:
        probe_rows = []
        for r in qrows:
            qv = np.asarray(r["qvec"], dtype=np.float64)
            d = ((cent - qv) ** 2).sum(1)
            flat = _pq_lut(books, qv)
            for c in np.argsort(d)[:n_probe]:
                probe_rows.append((int(r["query_id"]), int(c), flat))
        probe_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("ivf_list", T.IntegerType(), False),
                T.StructField("lut", T.ArrayType(T.DoubleType()), False),
            ]
        )
        probes = F.broadcast(
            local_frame(queries.sparkSession, probe_rows, probe_schema)
        )
    else:
        plan = ivf_probe_udf(cent, n_probe)
        lut = pq_lut_udf(books)
        probes = queries.select(
            "query_id",
            F.explode(plan(F.col("qvec"))).alias("ivf_list"),
            lut(F.col("qvec")).alias("lut"),
        )

    cand = encoded.join(probes, "ivf_list").select(
        "query_id",
        "vec_id",
        adc_dist(F.col("codes"), F.col("lut"), m, k_codes).alias("adc"),
    )
    wadc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        cand.withColumn("adc_rank", F.row_number().over(wadc))
        .filter(F.col("adc_rank") <= rerank)
        .select("query_id", "vec_id")
    )
    # exact re-rank: fetch true vectors for the shortlist only.  On the
    # bounded-probe path the shortlist is ≤ probe_query_cap · rerank id
    # pairs (~16 B each) — broadcast it so the corpus side is probed in
    # place instead of being shuffled into a sort-merge join (plan
    # showed SMJ + two exchanges for a 320-row shortlist); the
    # relational-fallback path (unbounded query side) keeps the
    # planner's choice.
    bounded = len(qrows) <= probe_query_cap
    sl = F.broadcast(shortlist) if bounded else shortlist
    rr = (
        sl.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(queries.select("query_id", "qvec"), "query_id")
        .withColumn(
            "sqdist", l2_sqdist_q7(F.col("embedding"), F.col("qvec"))
        )
    )
    return _rank_topk(rr, k, "sqdist", asc=True).select(
        "query_id", "vec_id", "sqdist", "rank"
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization (FAISS SQ8; public method) — the
    storage prep every billion-vector index runs: 4× smaller vectors,
    per-vector max-abs scale, symmetric rounding.

    ``(id, scale_micro, qvec)``: ``scale_micro`` = floor(1e6·max|x|)
    (bigint — the gate-safe integer form of the scale) and ``qvec[i]``
    = round(127·x_i·1e6 / scale_micro) clamped to [-127, 127]: the
    floor can sit below 1e6·max|x| (max|x| = 0.0001005 gives scale
    100 and an unclamped 128).  A vector with max|x| < 1e-6 — the zero
    vector, and any 0 < max|x| < 1e-6 — gets scale 0 and all-zero
    codes, so it dequantizes to zeros (error = max|x| < 1e-6).
    Entirely native higher-order functions on the scan projection — no
    shuffle, no UDF; the dequantization error bound (≤ scale/254 +
    quantizer ulp) is test-asserted.  Cross-engine exactness:
    float32→double is exact, the multiply/divide chain is identically
    associated in the DuckDB twin, both engines round ties away from
    zero and clamp alike, so the gate hashes the full quantized vector
    byte-for-byte."""
    x = F.col(vec_col)
    scale = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    sm = F.floor(scale * F.lit(1e6)).cast("long")

    def code(v):
        r = F.round(F.lit(127.0) * v.cast("double") * F.lit(1e6) / sm).cast("int")
        return F.when(r > 127, 127).when(r < -127, -127).otherwise(r)

    q = F.when(sm <= 0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(x, code)
    )
    return emb.select(
        F.col(id_col),
        sm.alias("scale_micro"),
        q.alias("qvec"),
    )


def dequantize_int8(
    q: DataFrame, qvec_col: str = "qvec", scale_col: str = "scale_micro"
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: x̂_i = qvec_i · scale_micro /
    (127·1e6) as float — for re-ranking stages that tolerate SQ8
    error (brute/IVF top-k compose unchanged)."""
    s = F.col(scale_col).cast("double") / F.lit(127.0 * 1e6)
    return q.withColumn(
        "embedding",
        F.transform(F.col(qvec_col), lambda v: (v.cast("double") * s).cast("float")),
    )
