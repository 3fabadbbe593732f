"""Dedup suite: exact, Jaccard, MinHash LSH, SimHash — with planted
near-duplicates as ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eodal_spark.operators import dedup as D


@pytest.fixture(scope="module")
def planted(spark):
    """20 base docs; ids 100+i are exact dups of i; 200+i are near-dups
    (one word changed); 300+i are unrelated."""
    import random

    rng = random.Random(7)
    words = [f"w{j}" for j in range(500)]
    rows = []
    for i in range(20):
        base = " ".join(rng.choice(words) for _ in range(80))
        rows.append((i, base))
        rows.append((100 + i, base))
        toks = base.split()
        toks[40] = "CHANGED"
        rows.append((200 + i, " ".join(toks)))
        rows.append((300 + i, " ".join(rng.choice(words) for _ in range(80))))
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_keeps_min_id(planted):
    out = D.exact_dedup(planted).cache()
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    for i in range(20):
        assert i in ids and (100 + i) not in ids
        assert (200 + i) in ids and (300 + i) in ids
    # determinism under repartition
    out2 = D.exact_dedup(planted.repartition(17))
    assert out2.select("doc_id").exceptAll(out.select("doc_id")).count() == 0


def test_jaccard_pairs_find_near_dups(planted):
    pairs = D.jaccard_pairs(planted, threshold_milli=700).cache()
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(20):
        assert (i, 100 + i) in got  # exact dup: jaccard 1
        assert (i, 200 + i) in got  # near dup above threshold
    # unrelated docs never pair
    assert not any(a >= 300 or b >= 300 for a, b in got)


def test_minhash_lsh_recalls_near_dups(planted):
    verified = D.minhash_dedup(planted, threshold_milli=700).cache()
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    exact_hits = sum((i, 100 + i) in got for i in range(20))
    near_hits = sum((i, 200 + i) in got for i in range(20))
    assert exact_hits == 20  # identical docs always collide
    assert near_hits >= 17  # high recall on near-dups (probabilistic)
    assert not any(a >= 300 or b >= 300 for a, b in got)  # verified: no FPs


def test_simhash_near_pairs(planted):
    sigs = D.simhash_signatures(planted).cache()
    pairs = D.simhash_near_pairs(sigs, max_hamming=6).cache()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    exact_hits = sum((i, 100 + i) in got for i in range(20))
    assert exact_hits == 20  # identical text → identical simhash
    # reported hamming distances are correct vs the raw signatures
    raw = {r["id"]: r["simhash"] for r in sigs.collect()}
    for (a, b), h in got.items():
        assert bin(raw[a] ^ raw[b]).count("1") == h <= 6
    # identical docs have identical signatures (hamming 0)
    assert all(got[(i, 100 + i)] == 0 for i in range(20))


def test_minhash_signature_determinism(planted):
    s1 = D.minhash_signatures(planted).orderBy("id").collect()
    s2 = D.minhash_signatures(planted.repartition(13)).orderBy("id").collect()
    for a, b in zip(s1, s2):
        assert a["id"] == b["id"] and a["sig"] == b["sig"]


def test_simhash_signature_determinism(planted):
    s1 = D.simhash_signatures(planted).orderBy("id").collect()
    s2 = D.simhash_signatures(planted.repartition(13)).orderBy("id").collect()
    for a, b in zip(s1, s2):
        assert a["id"] == b["id"] and a["simhash"] == b["simhash"]


def test_simhash_banding_guarantees_radius(spark):
    """Pigeonhole guarantee: with max_hamming+1 blocks, EVERY pair
    within the requested radius is recalled — including pairs > 3 bits
    apart, which the old fixed 4x16 banding only found by luck."""
    from pyspark.sql import functions as F

    base = 0x0123456789ABCDEF
    rows = [(0, base)]
    # flip k low bits spread across the word for k = 1..10
    bitpos = [0, 7, 13, 22, 29, 35, 41, 48, 54, 60]
    for k in range(1, 11):
        v = base
        for p in bitpos[:k]:
            v ^= 1 << p
        rows.append((k, v))
    sigs = spark.createDataFrame(rows, "id long, simhash long")
    pairs = D.simhash_near_pairs(sigs, max_hamming=10).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    for k in range(1, 11):
        assert got.get((0, k)) == k, f"pair at hamming {k} missed"


def test_connected_components_chain_and_cycle(spark):
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, cycle 10-11-12-10, isolated edge 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        ["id_a", "id_b"],
    )
    comp = {r.id: r.comp for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_merge_via_high_id_bridge(spark):
    # two low-id stars joined only through a high-id node: the min label
    # must cross the bridge in both directions
    pairs = spark.createDataFrame(
        [(1, 100), (2, 100), (1, 3), (2, 4)], ["id_a", "id_b"]
    )
    comp = {r.id: r.comp for r in D.connected_components(pairs).collect()}
    assert set(comp.values()) == {1}


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iters=2)


def test_dup_groups_labels_singletons(spark):
    from pyspark.sql import functions as F

    docs = spark.range(8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 5), (5, 6)], ["id_a", "id_b"])
    got = {r.doc_id: r.group_id for r in D.dup_groups(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 0, 6: 0, 7: 7}


def test_connected_components_agg_form_no_window(spark):
    """Skew guard: one large-star/small-star alternation must be
    agg-shaped (map-side combinable min), never a Window over the
    component.  Inspect the ROUND pre-checkpoint — the final result's
    plan only scans checkpoints, so it says nothing about the rounds."""
    edges = spark.createDataFrame([(2, 1), (3, 2)], ["u", "v"])
    out = D._small_star(D._large_star(edges))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Window" not in plan


def test_connected_components_reads_pairs_once(spark):
    """Every read of ``pairs`` goes through one checkpoint: the result's
    optimized plan holds no trace of the upstream pair pipeline, so
    actions on it never re-run (here) a Python ``mapInPandas`` stage."""

    def emit(it):
        for pdf in it:
            yield pdf.assign(id_b=pdf["id_a"] + 1)

    src = spark.createDataFrame([(1,), (2,), (5,), (9,)], "id_a long")
    pairs = src.mapInPandas(emit, "id_a long, id_b long").union(
        spark.createDataFrame([(7, 7)], "id_a long, id_b long")
    )
    out = D.connected_components(pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan
    got = {(r.id, r.comp) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 7), (9, 9), (10, 9)}


import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    n_nodes=st.integers(min_value=2, max_value=30),
    n_edges=st.integers(min_value=0, max_value=40),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_connected_components_matches_union_find(spark, n_nodes, n_edges, seed):
    """Property: distributed star contraction equals a classic
    union-find over the same random graph."""
    rng = np.random.RandomState(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.randint(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    if not edges:
        return

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    expected = {}
    for node in {v for e in edges for v in e}:
        root = find(node)
        expected[node] = min(
            m for m in {v for e in edges for v in e} if find(m) == root
        )

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r.id: r.comp
        for r in D.connected_components(pairs, max_iters=n_nodes + 2).collect()
    }
    assert got == expected


def test_star_contraction_path_graph_logarithmic_rounds(spark):
    """A 10⁴-node path has diameter 10⁴: propagating min labels would
    need 10⁴ rounds, the two-phase large-star/small-star contraction
    must finish in O(log n) — the default max_iters=20 is near
    log₂(10⁴)≈13.3 and ≪ the diameter, so success here IS the round
    bound."""
    from pyspark.sql import functions as F

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = D.connected_components(pairs)
    rows = out.collect()
    assert len(rows) == n
    assert all(r.comp == 0 for r in rows)


def test_star_contraction_keeps_self_pair_nodes(spark):
    """A node appearing only in self-pairs must be labeled with itself
    (the contraction keeps only u != v edges, so these nodes need
    explicit reinstatement)."""
    pairs = spark.createDataFrame([(5, 5), (1, 2)], ["id_a", "id_b"])
    got = {
        (r.id, r.comp)
        for r in D.connected_components(pairs, max_iters=5).collect()
    }
    assert got == {(5, 5), (1, 1), (2, 1)}


def test_minhash_collapse_matches_uncollapsed(planted):
    """The exact-text pre-collapse must be output-invisible in "all"
    mode: the signature/estimate/verify stack is a pure function of the
    text, so the fanned-out pair set (ids AND inter/uni) is identical
    to the representative-level core run over the raw corpus."""
    a = D.minhash_dedup(planted, threshold_milli=700).collect()
    docs = planted.selectExpr("doc_id AS id", "text AS t")
    b = D._minhash_pairs_core(
        docs, 64, 16, 700, 5, D._shingle_universe(docs, 5)
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_simhash_collapse_matches_uncollapsed(planted):
    sigs = D.simhash_signatures(planted).cache()
    a = D.simhash_near_pairs(sigs, max_hamming=6).collect()
    b = D._simhash_pairs_core(sigs, 6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_hot_bucket_exact_collapse_is_linear(spark):
    """10⁵ byte-identical docs: without the pre-collapse the LSH
    self-join would emit ~bands·n²/2 ≈ 8·10¹⁰ candidate pairs (a
    scale-killer); with it the whole LSH stack sees ONE representative
    (zero rep-level candidates) and expand="star" returns exactly the
    n-1 spanning pairs.  Completing at all — in seconds — IS the
    property being tested."""
    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body over and over " * 4).alias(
            "text"
        ),
    )
    out = D.minhash_dedup(docs, expand="star").cache()
    assert out.count() == n - 1
    row = out.agg(
        F.min("id_a"), F.max("id_a"), F.countDistinct("id_b")
    ).first()
    assert row[0] == 0 and row[1] == 0 and row[2] == n - 1  # star on rep 0
    # the representative level generates ZERO candidate pairs
    one = docs.filter("doc_id = 0").selectExpr("doc_id AS id", "text AS t")
    sigs = D.minhash_signatures(one, "t", "id")
    assert D.minhash_lsh_candidates(sigs).count() == 0
    out.unpersist()


def test_hot_bucket_simhash_collapse_is_linear(spark):
    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical template page " * 8).alias("text"),
    )
    sigs = D.simhash_signatures(docs)
    out = D.simhash_near_pairs(sigs, expand="star")
    assert out.count() == n - 1
    assert out.filter("hamming != 0").count() == 0


@pytest.fixture(scope="module")
def planted_vecs(spark):
    """(vec_id, embedding): smoke-corpus vectors 0..29; 1000+i and
    2000+i (i < 5) are exact copies of i (3-member exact groups), and
    3000+i (i < 10) are ×1.001 scaled near-copies (SRP-sign-invariant,
    q7 sqdist ≈ 1e8)."""
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        F.col("vec_id") < 30
    ).select("vec_id", "embedding")
    src = emb.filter(F.col("vec_id") < 5)
    scaled = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 3000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(1.001)).cast("float")
        ).alias("embedding"),
    )
    return (
        emb.unionByName(src.withColumn("vec_id", F.col("vec_id") + 1000))
        .unionByName(src.withColumn("vec_id", F.col("vec_id") + 2000))
        .unionByName(scaled)
        .cache()
    )


@pytest.mark.parametrize("op", ["minhash", "simhash", "embedding"])
def test_star_expansion_same_components_as_all(request, op):
    """expand="star" must yield identical dup_groups to expand="all"
    (spanning pairs preserve connectivity) for every operator on the
    shared collapse-and-expand fan-out."""
    if op == "embedding":
        from eodal_spark.operators import similarity as S

        df, id_col = request.getfixturevalue("planted_vecs"), "vec_id"
        dim = len(df.first()["embedding"])

        def run(expand):
            return S.embedding_near_dup_pairs(
                df, sqdist_threshold=10_000_000_000, dim=dim, expand=expand
            )
    elif op == "simhash":
        df, id_col = request.getfixturevalue("planted"), "doc_id"
        sigs = D.simhash_signatures(df).cache()

        def run(expand):
            return D.simhash_near_pairs(sigs, max_hamming=6, expand=expand)
    else:
        df, id_col = request.getfixturevalue("planted"), "doc_id"

        def run(expand):
            return D.minhash_dedup(df, threshold_milli=700, expand=expand)

    g_all, g_star = (
        {
            (r.doc_id, r.group_id)
            for r in D.dup_groups(df, run(expand), id_col).collect()
        }
        for expand in ("all", "star")
    )
    assert g_all == g_star
    assert any(d != g for d, g in g_all)  # some group has members


@pytest.fixture(scope="module")
def template_docs(spark):
    """(id, t): 90 one-word variations of one template — giant LSH
    buckets, so the >64-member (factorized outer-product) bucket path
    runs — plus 50 unrelated docs (small buckets / no collisions)."""
    import random

    rng = random.Random(11)
    words = [f"t{j}" for j in range(60)]
    rows = []
    base = " ".join(rng.choice(words) for _ in range(60))
    toks = base.split()
    for i in range(90):
        v = list(toks)
        v[i % 60] = f"X{i}"
        rows.append((i, " ".join(v)))
    for i in range(90, 140):
        rows.append((i, " ".join(rng.choice(words) for _ in range(60))))
    return spark.createDataFrame(rows, ["id", "t"]).cache()


def test_bucket_pairs_est_matches_historical_plan(spark, template_docs):
    """The fused bucket+estimate stage (r7 optimization) must emit
    exactly the pairs of the historical plan: LSH candidate self-join →
    distinct → signature re-join → zip_with agreement filter.  The
    corpus plants a >64-member near-identical template family so the
    dense (factorized outer-product) big-bucket path runs, not just the
    size-class small-bucket path."""
    docs = template_docs

    num_perm, bands, rpb, tm = 64, 16, 4, 500
    est_min = max(0, tm - 150) * num_perm
    sigs = D.minhash_signatures(docs, "t", "id", num_perm, 5).cache()

    fused = D._bucket_pairs_est(
        D._banded_sigs(sigs, bands, rpb), num_perm, est_min
    )
    cand = D.minhash_lsh_candidates(sigs, bands, rpb)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("_sb"))
    historical = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "_est",
            F.size(
                F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v)
            ),
        )
        .filter(F.col("_est") * 1000 >= F.lit(est_min))
        .select("id_a", "id_b")
    )
    got = {(r["id_a"], r["id_b"]) for r in fused.collect()}
    want = {(r["id_a"], r["id_b"]) for r in historical.collect()}
    assert got == want and len(want) > 100


def test_hset_cache_bounded_by_bytes(monkeypatch):
    """The worker shingle-hash-set memo never holds more array bytes
    than its budget, whatever the text lengths; a set bigger than the
    whole budget is returned but not cached."""
    import numpy as np

    budget = 6_000
    monkeypatch.setattr(D, "_HSET_CACHE", {})
    monkeypatch.setattr(D, "_hset_cache_bytes", 0)
    monkeypatch.setattr(D, "_HSET_CACHE_BUDGET", budget)
    rng = np.random.RandomState(3)
    for n in [100, 300, 50, 700, 20, 2_000, 400, 10]:
        t = "".join(rng.choice(list("abcdefghij"), size=n))
        hs = D._cached_hset(t, 5)
        assert hs.tolist() == D._shingle_hash_set(t, 5).tolist()
        held = sum(v.nbytes for v in D._HSET_CACHE.values())
        assert held == D._hset_cache_bytes <= budget
        assert ((t, 5) in D._HSET_CACHE) == (hs.nbytes <= budget)


@pytest.mark.parametrize("corpus, threshold", [("planted", 700), ("template", 500)])
def test_bitmap_and_wide_regimes_agree_with_exact_jaccard(
    request, monkeypatch, corpus, threshold
):
    """Both MinHash regimes — the in-bucket bitmap verify (small
    shingle universe) and the estimate → text-attach → hash-set verify
    chain (universe above `_BITMAP_UNIVERSE_CAP`) — emit only true
    pairs with exact (inter, uni), and the bitmap regime's 7-bit
    estimate codes can only ADD pairs to the wide regime's output."""
    if corpus == "planted":
        df = request.getfixturevalue("planted")
    else:
        df = request.getfixturevalue("template_docs").selectExpr(
            "id AS doc_id", "t AS text"
        )
    docs = df.selectExpr("doc_id AS id", "text AS t")
    truth = {
        (r.id_a, r.id_b): (r.inter, r.uni)
        for r in D.jaccard_pairs(df, threshold_milli=threshold).collect()
    }

    def run():
        return {
            (r.id_a, r.id_b): (r.inter, r.uni)
            for r in D.minhash_dedup(df, threshold_milli=threshold).collect()
        }

    assert D._shingle_universe(docs, 5) is not None
    bitmap = run()
    monkeypatch.setattr(D, "_BITMAP_UNIVERSE_CAP", 0)
    assert D._shingle_universe(docs, 5) is None
    wide = run()
    for got in (bitmap, wide):
        assert got and all(truth.get(k) == v for k, v in got.items())
    assert set(wide) <= set(bitmap)
