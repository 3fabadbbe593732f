"""Similarity search over the embeddings table: brute force vs ANN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import similarity as S
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    rows = corpus.orderBy("vec_id").limit(5).collect()
    return spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows], ["query_id", "qvec"]
    )


def test_brute_force_l2_matches_numpy(spark, corpus, queries):
    k = 10
    got = S.brute_force_topk_l2(queries, corpus, k).orderBy("query_id", "rank").collect()
    pdf = corpus.orderBy("vec_id").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    for q in queries.collect():
        qv = np.array(q["qvec"], dtype=np.float64)
        d = ((mat - qv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))[:k]
        expect = ids[order].tolist()
        mine = [r["vec_id"] for r in got if r["query_id"] == q["query_id"]]
        assert mine == expect


def test_self_is_nearest(corpus, queries):
    got = S.brute_force_topk_l2(queries, corpus, 1).collect()
    for r in got:
        assert r["vec_id"] == r["query_id"] and float(r["sqdist"]) == 0.0


def test_cosine_topk_runs(corpus, queries):
    got = S.brute_force_topk_cosine(queries, corpus, 3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        best = min(rows, key=lambda r: r["rank"])
        assert best["vec_id"] == q and best["sim"] == pytest.approx(1.0, abs=1e-6)


def test_ann_srp_recall(spark, corpus, queries):
    k = 10
    dim = len(queries.first()["qvec"])
    exact = S.brute_force_topk_l2(queries, corpus, k).collect()
    # testdata embeddings have weak angular structure (NN cosine ~0.35):
    # collision prob per table = (1 - theta/pi)^planes ~ 0.23 at 3 planes,
    # so 8 tables give ~0.88 expected recall for the top neighbours
    approx = S.ann_topk_srp(queries, corpus, k, dim, n_planes=3, n_tables=8).collect()
    e = {}
    a = {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.5  # ANN recall floor


def test_embedding_near_dup_self_pairs(spark, corpus):
    # plant exact duplicate vectors with new ids
    dups = corpus.limit(3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = corpus.select("vec_id", "embedding").unionByName(dups)
    dim = len(corpus.first()["embedding"])
    pairs = S.embedding_near_dup_pairs(aug, sqdist_threshold=1e-12, dim=dim)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in corpus.limit(3).collect():
        assert (r["vec_id"], r["vec_id"] + 100000) in got


def test_ivf_topk_recall(spark, corpus, queries):
    k = 10
    exact = S.brute_force_topk_l2(queries, corpus, k).collect()
    approx = S.ivf_topk(queries, corpus, k, n_centroids=8, n_probe=4).collect()
    e, a = {}, {}
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(e[q] & a.get(q, set())) / k for q in e]
    assert sum(recalls) / len(recalls) >= 0.5
    # candidates within probed lists are ranked by the SAME exact
    # quantized metric -> any returned neighbor in the exact set has
    # identical sqdist
    ed = {(r["query_id"], r["vec_id"]): r["sqdist"] for r in exact}
    for r in approx:
        if (r["query_id"], r["vec_id"]) in ed:
            assert ed[(r["query_id"], r["vec_id"])] == r["sqdist"]


def test_near_dup_bucket_guard_raises(spark, corpus):
    """Scale guard: a fat SRP bucket fails fast with actionable stats
    (the polygon_cover_cells covering-guard pattern), never a silent
    quadratic self-join."""
    dim = len(corpus.first()["embedding"])
    with pytest.raises(ValueError, match="n_planes"):
        S.embedding_near_dup_pairs(
            corpus.select("vec_id", "embedding"), sqdist_threshold=1,
            dim=dim, n_planes=2, max_bucket_rows=50,
        )


def test_near_dup_exact_collapse_absorbs_skew(spark, corpus):
    """200 identical vectors would be an unsplittable hot bucket (no
    number of SRP planes separates identical vectors); the exact-dup
    collapse removes them from bucketing, so the guard stays quiet and
    every member still pairs with its representative."""
    one = corpus.orderBy("vec_id").first()
    clones = spark.range(1000, 1200).select(
        F.col("id").alias("vec_id"),
        F.lit(one["embedding"]).cast("array<float>").alias("embedding"),
    )
    base = corpus.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    aug = base.unionByName(clones)
    dim = len(one["embedding"])
    pairs = S.embedding_near_dup_pairs(
        aug, sqdist_threshold=1, dim=dim,
        n_planes=4, max_bucket_rows=120,
    ).collect()
    rep = min(one["vec_id"], 1000)
    member_pairs = {(r["id_a"], r["id_b"]) for r in pairs if r["sqdist"] == 0}
    # every clone (and the original) maps to the single min-id representative
    expected_members = {one["vec_id"], *range(1000, 1200)} - {rep}
    assert {(rep, m) for m in expected_members} <= member_pairs


def test_near_dup_adaptive_planes_and_recall(spark, corpus):
    """n_planes=None sizes the bucket space from the corpus; planted
    scaled near-copies (SRP-sign-invariant) are all recovered."""
    planted = corpus.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(1.001)).cast("float")
        ).alias("embedding"),
    )
    aug = corpus.select("vec_id", "embedding").unionByName(planted)
    dim = len(corpus.first()["embedding"])
    pairs = S.embedding_near_dup_pairs(
        aug, sqdist_threshold=10_000_000_000, dim=dim,
        n_planes=None, target_bucket_rows=16,
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(v, v + 100000) for v in range(20)} <= got


def test_near_dup_closure_with_duplicate_groups(spark, corpus):
    """expand="all" is the full all-pairs closure: a duplicate group
    {a1,a2,a3} plus a near-neighbor b must emit every within-group pair
    AND b's pair with EVERY member — not just the representative —
    equal to the representative-level core run over the raw rows;
    expand="star" keeps the core's pairs between representatives and
    links each member to its representative."""
    one = corpus.orderBy("vec_id").first()
    a1 = one["vec_id"]
    clones = spark.createDataFrame(
        [(900001, one["embedding"]), (900002, one["embedding"])],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    near = spark.createDataFrame(
        [(900003, [float(x) * 1.001 for x in one["embedding"]])],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    aug = (
        corpus.filter(F.col("vec_id") < 100)
        .select("vec_id", "embedding")
        .unionByName(clones)
        .unionByName(near)
    )
    dim = len(one["embedding"])
    pairs = S.embedding_near_dup_pairs(
        aug, sqdist_threshold=10_000_000_000, dim=dim
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["sqdist"] for r in pairs}
    group = sorted([a1, 900001, 900002])
    # within-group closure at sqdist 0
    for i in range(3):
        for j in range(i + 1, 3):
            assert got.get((group[i], group[j])) == 0
    # the near vector pairs with EVERY member, same inherited distance
    dists = {got.get((min(m, 900003), max(m, 900003))) for m in group}
    assert None not in dists and len(dists) == 1
    raw = aug.select(F.col("vec_id").alias("id"), "embedding")
    core = S._srp_near_pairs(
        raw, 10_000_000_000, dim, None, 4, 1024, 200_000
    ).collect()
    assert sorted(map(tuple, pairs)) == sorted(map(tuple, core))
    star = S.embedding_near_dup_pairs(
        aug, sqdist_threshold=10_000_000_000, dim=dim, expand="star"
    ).collect()
    dup = {900001, 900002}
    assert sorted(map(tuple, star)) == sorted(
        [tuple(r) for r in core if not dup & {r["id_a"], r["id_b"]}]
        + [(a1, m, 0) for m in dup]
    )


def test_near_dup_group_size_guard_and_star(spark, corpus):
    """A duplicate group beyond max_group_size fails fast in "all"
    mode (its clique is quadratic on ONE join key); expand='star' emits
    the linear representative->member pairs instead."""
    one = corpus.orderBy("vec_id").first()
    clones = spark.range(1000, 1050).select(
        F.col("id").alias("vec_id"),
        F.lit(one["embedding"]).cast("array<float>").alias("embedding"),
    )
    aug = corpus.filter(F.col("vec_id") < 50).select(
        "vec_id", "embedding"
    ).unionByName(clones)
    dim = len(one["embedding"])
    with pytest.raises(ValueError, match="star"):
        S.embedding_near_dup_pairs(
            aug, sqdist_threshold=1, dim=dim, max_group_size=10,
        )
    pairs = S.embedding_near_dup_pairs(
        aug, sqdist_threshold=1, dim=dim, max_group_size=10, expand="star",
    ).collect()
    rep = min(one["vec_id"], 1000)
    star = {(r["id_a"], r["id_b"]) for r in pairs if r["sqdist"] == 0}
    expected = {(rep, m) for m in ({one["vec_id"], *range(1000, 1050)} - {rep})}
    assert expected <= star
    # star is linear: no member-member pairs
    assert all(a == rep for a, _ in star)


def test_ivf_empty_corpus_raises_actionable(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="empty corpus sample"):
        S.ivf_train_centroids(empty, n_centroids=4)


def test_ivf_topk_relational_probe_path_matches_driver_path(spark, corpus):
    """Above probe_query_cap the query side is never collected: probe
    lists are assigned executor-side (ivf_probe_udf) and exploded
    relationally.  Both paths must produce identical results (same
    centroids, same probe membership, same exact re-rank)."""
    rows = corpus.orderBy("vec_id").limit(40).collect()
    qdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows], ["query_id", "qvec"]
    )
    driver = S.ivf_topk(qdf, corpus, k=5, probe_query_cap=16_384)
    relational = S.ivf_topk(qdf, corpus, k=5, probe_query_cap=8)
    a = sorted(map(tuple, driver.collect()))
    b = sorted(map(tuple, relational.collect()))
    assert a == b and len(a) == 40 * 5


def test_ivf_topk_large_query_side_is_bounded(spark, corpus):
    """10⁵ query vectors with a tiny cap: the collect is bounded at
    cap+1 rows and the job completes through the relational plan."""
    base = corpus.limit(1)
    qs = (
        spark.range(100_000)
        .join(F.broadcast(base.select("embedding")))
        .select(F.col("id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    out = S.ivf_topk(qs, corpus, k=1, probe_query_cap=64)
    assert out.count() == 100_000


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def test_semantic_dedup_groups_transitive_chain(spark):
    """SemDeDup: cosine-≥tau links compose transitively (a~b, b~c → one
    group even when cos(a,c) < tau), the survivor is the min id, and
    dissimilar vectors stay singletons."""
    import math

    # unit-ish 3-d vectors: a at 0°, b at 10°, c at 20° — cos(10°)=.985
    # links a-b and b-c; cos(20°)=.940 < tau does NOT link a-c directly
    def ang(deg):
        r = math.radians(deg)
        return (math.cos(r), math.sin(r), 0.0)

    rows = [
        (1, ang(0)), (2, ang(10)), (3, ang(20)),
        (10, (0.0, 0.0, 1.0)),            # orthogonal singleton
        (11, (0.0, 2.0, 0.0)),            # scaled copy of (0,1,0)...
        (12, (0.0, 4.0, 0.0)),            # ...and another: exact group
    ]
    out = S.semantic_dedup(
        _vec_df(spark, rows), tau=0.96, n_clusters=1, sample=10
    )
    got = {r["vec_id"]: (r["comp"], r["keep"]) for r in out.collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)
    assert got[3] == (1, False)   # transitive through 2
    assert got[10] == (10, True)
    assert got[11] == (11, True)  # min of the exact group {11, 12}
    assert got[12] == (11, False)
    assert sum(1 for c, k in got.values() if k) == 3


def test_semantic_dedup_cluster_guard(spark):
    """Oversized natural clusters fail fast, never dropped silently."""
    import math

    # 40 distinct near-collinear vectors → one cluster, > cap
    rows = [
        (i, (math.cos(i * 1e-3), math.sin(i * 1e-3), 0.0))
        for i in range(40)
    ]
    df = _vec_df(spark, rows)
    with pytest.raises(ValueError, match="raise n_clusters"):
        S.semantic_dedup(df, tau=0.99, n_clusters=1, sample=50,
                         max_cluster_rows=10)


def test_semantic_dedup_no_duplicates_is_identity(spark):
    """A corpus with no ≥tau pair returns every row as its own survivor
    (empty edge set must not break connected components)."""
    rows = [(1, (1.0, 0.0, 0.0)), (2, (0.0, 1.0, 0.0)), (3, (0.0, 0.0, 1.0))]
    out = S.semantic_dedup(_vec_df(spark, rows), tau=0.9, n_clusters=2,
                           sample=10)
    assert out.filter("keep").count() == 3
    assert out.count() == 3


def test_ivfpq_exact_on_self_queries(spark, corpus, queries):
    """With generous rerank the PQ shortlist retains the true top-k of
    the probed lists; the exact re-rank then reproduces IVF's answer —
    on self-queries the nearest hit is the query itself at distance 0."""
    got = S.ivfpq_topk(
        queries, corpus, 1, n_centroids=8, n_probe=8, m=8, n_codes=16
    ).collect()
    assert len(got) == 5
    for r in got:
        assert r["vec_id"] == r["query_id"] and int(r["sqdist"]) == 0


def test_ivfpq_full_probe_generous_rerank_matches_brute(spark, corpus, queries):
    """Probing EVERY list with rerank >= corpus size degrades IVF-PQ to
    exact brute force — the recall knobs, not the mechanism, are the
    only approximation."""
    k = 10
    exact = S.brute_force_topk_l2(queries, corpus, k).orderBy(
        "query_id", "rank"
    ).collect()
    got = S.ivfpq_topk(
        queries, corpus, k, n_centroids=8, n_probe=8, m=8, n_codes=16,
        rerank=10_000,
    ).orderBy("query_id", "rank").collect()
    t = lambda rs: [
        (r["query_id"], r["vec_id"], int(r["sqdist"]), r["rank"]) for r in rs
    ]
    assert t(got) == t(exact)


def test_ivfpq_relational_path_matches_driver_path(spark, corpus, queries):
    """probe_query_cap=0 forces the executor-side LUT/probe plan; both
    paths must agree row-for-row."""
    kw = dict(n_centroids=8, n_probe=8, m=8, n_codes=16, rerank=10_000)
    drv = S.ivfpq_topk(queries, corpus, 5, **kw).orderBy(
        "query_id", "rank"
    ).collect()
    rel = S.ivfpq_topk(
        queries, corpus, 5, probe_query_cap=0, **kw
    ).orderBy("query_id", "rank").collect()
    t = lambda rs: [
        (r["query_id"], r["vec_id"], int(r["sqdist"]), r["rank"]) for r in rs
    ]
    assert t(drv) == t(rel)


def test_ivfpq_codes_are_compact(spark, corpus):
    """The encoded relation carries m small ints per vector — the 32x
    compression that lets a 10^12-vector index fit the cluster."""
    books = S.pq_train_codebooks(corpus, m=8, n_codes=16, seed=42)
    assert len(books) == 8
    enc = S.pq_encode_udf(books)
    row = corpus.select(enc(F.col("embedding")).alias("codes")).first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])


def test_ivfpq_adc_estimates_track_distance(spark, corpus):
    """ADC is an estimate, but for a vector vs ITSELF the estimate is
    the quantization residual — strictly smaller than vs a far vector
    scaled 10x away.  Sanity-pins the LUT indexing (j*k + code)."""
    import numpy as np

    books = S.pq_train_codebooks(corpus, m=8, n_codes=16, seed=42)
    k_codes = len(books[0][1])
    enc = S.pq_encode_udf(books)
    base = corpus.orderBy("vec_id").limit(1)
    qv = np.asarray(base.first()["embedding"], dtype=np.float64)
    lut_near = S._pq_lut(books, qv)
    lut_far = S._pq_lut(books, qv * 10.0)
    df = base.select(enc(F.col("embedding")).alias("codes"))
    got = df.select(
        S.adc_dist(F.col("codes"), F.lit(lut_near), 8, k_codes).alias("near"),
        S.adc_dist(F.col("codes"), F.lit(lut_far), 8, k_codes).alias("far"),
    ).first()
    assert got["near"] < got["far"]


def test_ivfpq_empty_corpus_raises_actionable(spark):
    import pyspark.sql.types as T

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    with pytest.raises(ValueError, match="empty corpus sample"):
        S.pq_train_codebooks(empty)


def test_quantize_int8_bounds_and_roundtrip(spark):
    from eodal_spark.operators.similarity import dequantize_int8, quantize_int8

    emb = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),      # zero vector
            (3, [1e-6, -2e-6, 0.0, 3e-6]),  # tiny scale
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(emb).collect()}
    r = rows[1]
    assert r.scale_micro == 1_000_000
    assert list(r.qvec) == [64, -127, 32, 0]  # round(127*x/1.0)
    assert max(abs(v) for v in r.qvec) <= 127
    z = rows[2]
    assert z.scale_micro == 0 and list(z.qvec) == [0, 0, 0, 0]
    t = rows[3]
    assert t.scale_micro == 3 and max(abs(v) for v in t.qvec) <= 127

    # dequantization error <= scale/254 + ulp slack, elementwise
    back = {
        r.vec_id: list(r.embedding)
        for r in dequantize_int8(quantize_int8(emb)).collect()
    }
    orig = {1: [0.5, -1.0, 0.25, 0.0], 3: [1e-6, -2e-6, 0.0, 3e-6]}
    for vid, xs in orig.items():
        scale = max(abs(v) for v in xs)
        for a, b in zip(xs, back[vid]):
            assert abs(a - b) <= scale / 254 + 1e-6 * scale + 1e-12


def test_quantize_int8_clamps_codes_in_both_engines(spark, tmp_path):
    """floor(1e6·max|x|) can sit below 1e6·max|x|: max|x| = 0.0001005
    gives scale 100 and an unrounded code of 127.6.  The engine and its
    DuckDB twin both clamp to ±127, as an independent Python reference
    does; 0 < max|x| < 1e-6 gets scale 0 and zero codes."""
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    vecs = {
        1: [0.0001005, -0.0001005, 0.00005, 0.0],
        2: [-0.0001005, 0.0001, 0.0, 0.00002],
        3: [5e-7, -3e-7, 0.0, 1e-7],
        4: [0.5, -1.0, 0.25, 0.0],
    }
    emb_dir = tmp_path / "sf"
    emb_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(vecs), pa.int64()),
                "embedding": pa.array(list(vecs.values()), pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        emb_dir / "embeddings.parquet",
    )

    def reference(xs):
        xs = [float(np.float32(v)) for v in xs]
        sm = math.floor(max(abs(v) for v in xs) * 1e6)
        if sm <= 0:
            return sm, ",".join("0" for _ in xs)
        codes = []
        for v in xs:
            r = 127.0 * v * 1e6 / sm
            r = int(math.copysign(math.floor(abs(r) + 0.5), r))
            codes.append(str(max(-127, min(127, r))))
        return sm, ",".join(codes)

    want = {vid: reference(xs) for vid, xs in vecs.items()}
    assert want[1] == (100, "127,-127,63,0")
    assert want[3] == (0, "0,0,0,0")
    got = {
        r.vec_id: (r.scale_micro, r.qvec_str)
        for r in E.queries()["emb_quantize_int8"](spark, str(emb_dir)).collect()
    }
    assert got == want
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{emb_dir}/embeddings.parquet'"
    )
    twin = {
        vid: (sm, q)
        for vid, sm, q in con.execute(E.oracle_sql()["emb_quantize_int8"]).fetchall()
    }
    assert twin == want


def test_quantize_int8_plan_is_mapside(spark):
    from eodal_spark.operators.similarity import quantize_int8

    emb = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<float>"
    )
    plan = quantize_int8(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
