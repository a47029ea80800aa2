"""Quality gates for the non-oracle dedup operators: plant known
near-duplicates in a documents-shaped table and require MinHash+LSH and
SimHash to surface them without false positives among unrelated docs."""

import random

import pytest
from pyspark.sql import functions as F

from engine.spark.analytics import dedup_minhash_lsh, dedup_simhash

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega red green blue cyan "
    "magenta yellow black white stone river mountain forest cloud rain snow"
).split()


def _doc(rng, n=120):
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    rng = random.Random(42)
    docs = []
    for i in range(40):
        docs.append((i, _doc(rng), "en", f"src{i}", 0))
    # plant 3 near-dup pairs: copy with a few word substitutions
    for pair, base_id in enumerate((3, 11, 27)):
        base = docs[base_id][1].split()
        for j in range(4):
            base[rng.randrange(len(base))] = rng.choice(WORDS)
        docs.append((100 + pair, " ".join(base), "en", "dup", 0))
    # and one exact duplicate
    docs.append((200, docs[5][1], "en", "dup", 0))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path_factory.mktemp("planted"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_minhash_lsh_finds_planted_pairs(spark, planted_dir):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_minhash_lsh(spark, planted_dir, jaccard_threshold=0.5).collect()
    }
    assert (3, 100) in pairs
    assert (11, 101) in pairs
    # (27, 102), jaccard 0.829, misses every band with the portable md5
    # hash — the expected ~0.6% 8x4 s-curve miss at that similarity
    # (documented in test_lsh_verified_matches_bounded_jaccard)
    assert (5, 200) in pairs  # exact dup → jaccard 1.0
    # no false positives among unrelated docs (both ids < 100)
    fp = [p for p in pairs if p[0] < 100 and p[1] < 100 and p != (5, 200)]
    assert not fp, fp


def test_simhash_finds_exact_dup(spark, planted_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash(spark, planted_dir, max_hamming=10).collect()
    }
    assert pairs.get((5, 200)) == 0  # identical text → distance 0
    # multi-band bucketing (6x10): every planted near-dup (hamming
    # 5/7/8 here) collides in at least one band and survives the
    # full-hamming verify
    for p in ((3, 100), (11, 101), (27, 102)):
        assert p in pairs, p
        assert 0 < pairs[p] <= 10


def test_minhash_estimates_track_true_jaccard(spark, planted_dir):
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_lsh(spark, planted_dir, jaccard_threshold=0.0).collect()
    }
    assert est[(5, 200)] == 1.0
    for p in ((3, 100), (11, 101), (27, 102)):
        if p in est:
            assert est[p] > 0.4


def test_embedding_cosine_dedup_finds_planted_pairs(spark, tmp_path):
    """Planted near-identical vectors must surface as near-dup pairs;
    an orthogonal vector must not pair with them."""
    import math

    from engine.spark.analytics import dedup_embedding_cosine

    dim = 16
    base = [math.sin(i + 1) for i in range(dim)]
    near = [v + (0.001 if i % 2 else -0.001) for i, v in enumerate(base)]
    # orthogonal-ish: same sign pattern on the first dims as base would
    # land in another bucket half the time; force same bucket by copying
    # signs but decorrelating magnitudes with an alternating flip beyond
    # the sign dims
    other = [math.copysign(abs(math.cos(3 * i + 2)), v) for i, v in enumerate(base)]
    rows = [(0, base), (1, near), (2, other)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "embdir")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup_embedding_cosine(spark, out, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_adaptive_sign_dims_scales_keyspace():
    """Round-1 hazard closed: the default bucket keyspace grows with
    the corpus (≥ 2n keys) instead of pinning 2^6 at any size."""
    from engine.spark.analytics import adaptive_sign_dims

    assert adaptive_sign_dims(3) == 6            # tiny corpus → floor
    assert adaptive_sign_dims(500) == 10         # sf0.01 embeddings
    assert adaptive_sign_dims(2000) == 12        # sf0.1 → 4096 buckets
    assert 2 ** adaptive_sign_dims(2000) >= 4096
    # capped so `probes` disjoint sign blocks fit in the vector
    assert adaptive_sign_dims(10**12, dim=64, probes=2) == 32
    assert adaptive_sign_dims(10**9, dim=64, probes=4) == 16
    for n in (10, 100, 10_000, 10**6):
        assert 2 ** adaptive_sign_dims(n, dim=256, probes=2) >= 2 * n


def test_adaptive_buckets_bound_skew_at_sf01(spark):
    """With the adaptive default, no sign bucket on the sf0.1
    embeddings may hold more than a tiny fraction of the corpus — the
    per-bucket self-join cost is what must stay bounded at scale."""
    from engine.spark.analytics import (
        _corpus_stats,
        _sign_bucket,
        _vecs,
        adaptive_sign_dims,
    )

    embs = _vecs(spark, "/root/testdata/sf0.1")
    n, dim = _corpus_stats(embs)
    sd = adaptive_sign_dims(n, dim, probes=2)
    assert 2**sd >= max(4096, 2 * n)
    sizes = (
        embs.withColumn("b", _sign_bucket(F.col("v"), 0, sd))
        .groupBy("b")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()
    )
    assert sizes.mx <= 32, f"max bucket {sizes.mx} of {n} rows"


def test_dedup_embedding_adaptive_default_finds_planted(spark, tmp_path):
    """The adaptive default must still surface near-identical planted
    pairs: near-dups agree on (almost) every hyperplane sign, so a
    wider bucket key keeps them colliding."""
    import random

    from engine.spark.analytics import dedup_embedding_cosine

    rng = random.Random(9)
    dim = 32
    rows = []
    for i in range(300):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    # plant 5 near-identical pairs
    planted = []
    for j, base_id in enumerate((4, 60, 121, 200, 287)):
        v = [x + rng.gauss(0, 0.002) for x in rows[base_id][1]]
        rows.append((1000 + j, v))
        planted.append((base_id, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "embdir")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    pairs = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, out, threshold=0.95).collect()
    }
    for p in planted:
        assert p in pairs, p


def test_dedup_embedding_cosine_planted_hub(spark, tmp_path):
    """70 identical vectors (> LSH_MAX_BUCKET_DOCS) share one sign
    bucket per probe: the guarded bucket join pairs them as a star
    around the min vec_id, N-1 pairs instead of N(N-1)/2, and the
    keep-list equals the one brute-force all-pairs components give
    (the zero-norm row pairs with nothing and survives)."""
    import math
    import random

    from engine.spark.analytics import (
        LSH_MAX_BUCKET_DOCS,
        dedup_apply_embeddings,
        dedup_embedding_cosine,
    )

    rng = random.Random(21)
    dim, n_hub = 32, 70
    assert n_hub > LSH_MAX_BUCKET_DOCS
    hub = [rng.gauss(0, 1) for _ in range(dim)]
    hub_ids = set(range(100, 100 + n_hub))
    rows = [(i, hub) for i in sorted(hub_ids)]
    rows += [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(40)]
    rows.append((999, [0.0] * dim))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "embdir")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup_embedding_cosine(spark, out, threshold=0.9).collect()
    }
    hub_pairs = {p for p in pairs if p[0] in hub_ids and p[1] in hub_ids}
    assert hub_pairs == {(100, m) for m in hub_ids - {100}}
    assert all(pairs[p] == 1.0 for p in hub_pairs)

    # brute-force all-pairs components -> keepers = component minima
    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n else None

    vecs = {i: unit(v) for i, v in rows}
    parent = {i: i for i in vecs}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    ids = sorted(i for i, v in vecs.items() if v)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            if sum(x * y for x, y in zip(vecs[a], vecs[b])) >= 0.9:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    expected = {i for i in vecs if find(i) == i}
    assert 999 in expected and 100 in expected and 101 not in expected
    kept = {
        r.vec_id
        for r in dedup_apply_embeddings(spark, out, threshold=0.9).collect()
    }
    assert kept == expected


def test_hamming_pairs_planted_hub(spark):
    """70 identical 60-bit hashes (> LSH_MAX_BUCKET_DOCS) share every
    band bucket, banded the way dedup_simhash bands them: the guarded
    join pairs them as a star around the min doc_id (N-1 pairs, not
    N(N-1)/2) with the same connected components, while a 2-doc bucket
    still pairs all-pairs."""
    from engine.spark.analytics import (
        LSH_MAX_BUCKET_DOCS,
        SIMHASH_BITS,
        _hamming_pairs,
        dedup_clusters,
    )

    n_hub, band_bits = 70, 10
    assert n_hub > LSH_MAX_BUCKET_DOCS
    hub_ids = list(range(100, 100 + n_hub))
    # the two hashes differ in every 10-bit band: no shared bucket
    rows = [(i, 0x123456789ABCDEF) for i in hub_ids]
    rows += [(i, 0xFEDCBA987654321) for i in (0, 1)]
    hashes = spark.createDataFrame(rows, "doc_id long, simhash long")
    pairs_df = _hamming_pairs(
        hashes, "simhash", band_bits, SIMHASH_BITS // band_bits, 6
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in pairs_df.collect()}
    assert set(pairs) == {(100, m) for m in hub_ids[1:]} | {(0, 1)}
    assert set(pairs.values()) == {0}
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(pairs_df.select("doc_a", "doc_b")).collect()
    }
    assert clusters == {**{i: 100 for i in hub_ids}, 0: 0, 1: 0}


def test_adaptive_n_centroids_scales():
    from engine.spark.analytics import adaptive_n_centroids

    assert adaptive_n_centroids(100) == 8          # floor
    assert adaptive_n_centroids(500) == 8
    assert adaptive_n_centroids(2000) == 8
    assert adaptive_n_centroids(100_000) == 391    # ~256 rows/cell
    assert adaptive_n_centroids(10**9) == 4096     # cap
    for n in (10, 10_000, 10**6):
        c = adaptive_n_centroids(n)
        assert 8 <= c <= 4096


def test_centroid_ivf_recall_and_determinism(spark, tmp_path):
    """The k-means IVF must reach recall@3 ≥ 0.9 on clustered vectors
    (its codebook should essentially recover the planted clusters) and
    be bit-deterministic across invocations."""
    import random

    from engine.spark.analytics import (
        simsearch_bruteforce,
        simsearch_ivf_centroids,
    )

    rng = random.Random(13)
    dim, n_clusters, per_cluster = 32, 30, 12
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.02) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "cent")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    truth = {
        (r.query_id, r.vec_id)
        for r in simsearch_bruteforce(spark, out, n_queries=20, k=3).collect()
    }
    got1 = sorted(
        tuple(r) for r in
        simsearch_ivf_centroids(spark, out, n_queries=20, n_centroids=30).collect()
    )
    got2 = sorted(
        tuple(r) for r in
        simsearch_ivf_centroids(spark, out, n_queries=20, n_centroids=30).collect()
    )
    assert got1 == got2, "centroid IVF must be deterministic"
    pairs = {(q, v) for q, v, _, _ in got1}
    recall = len(pairs & truth) / len(truth)
    assert recall >= 0.9, f"centroid recall@3 {recall:.2f}"


def test_dedup_clusters_chain_merge(spark):
    """Label propagation must merge transitive chains into one
    component labeled by its minimum id, handle disjoint components,
    and mark exactly one keeper per cluster."""
    from engine.spark.analytics import dedup_clusters

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (given out of order), island 7-9, singleton edge 20-21
        [(2, 3), (1, 2), (3, 4), (9, 7), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in dedup_clusters(pairs).collect()}
    assert {got[i][0] for i in (1, 2, 3, 4)} == {1}
    assert got[7][0] == 7 and got[9][0] == 7
    assert got[20][0] == 20 and got[21][0] == 20
    keepers = [d for d, (c, k) in got.items() if k]
    assert sorted(keepers) == [1, 7, 20]
    # deterministic across invocations
    again = {r.doc_id: (r.cluster_id, r.is_keeper)
             for r in dedup_clusters(pairs).collect()}
    assert again == got


def test_dedup_clusters_deep_chain_converges(spark):
    from engine.spark.analytics import dedup_clusters

    # a 51-node path graph (diameter 50): plain min-label propagation
    # would need 51 rounds; pointer jumping converges well inside the
    # default max_iterations
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    got = dedup_clusters(pairs).collect()
    assert len(got) == 51
    assert {r.cluster_id for r in got} == {0}
    assert sum(r.is_keeper for r in got) == 1


def test_dedup_clusters_raises_when_not_converged(spark):
    """Partial labels are never returned: a 50-deep chain cannot
    converge in one round, so the call raises."""
    from engine.spark.analytics import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iterations=1)


def _union_find_components(edges):
    """Reference components: {(node, min id in component, is_min)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v), v == find(v)) for v in list(parent)}


def test_dedup_clusters_matches_union_find(spark):
    """Components == a pure-Python union-find on a 50-deep path, a
    merged-chain graph, a self-pair next to a plain pair, and seeded
    random graphs (self-pairs included). The graphs are laid out on
    disjoint id ranges and clustered in one call; every id that
    appears in a pair appears once in the output."""
    from engine.spark.analytics import dedup_clusters

    graphs = [
        [(i, i + 1) for i in range(50)],
        [(1, 2), (2, 3), (10, 11), (3, 10), (20, 21)],
        [(5, 5), (6, 7)],
    ]
    rng = random.Random(5)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)]
    graphs.append([(a, b) for a, b in edges if a != b])
    for seed in range(6):
        rng = random.Random(seed)
        graphs.append(
            [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        )
    edges = [
        (g * 1000 + a, g * 1000 + b)
        for g, graph in enumerate(graphs)
        for a, b in graph
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = dedup_clusters(df).collect()
    got = {(r.doc_id, r.cluster_id, r.is_keeper) for r in rows}
    assert len(rows) == len(got)
    want = _union_find_components(edges)
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
    # the self-pair contract: id 5 (only pair (5, 5)) is its own keeper
    assert {t for t in got if 2000 <= t[0] < 3000} == {
        (2005, 2005, True), (2006, 2006, True), (2007, 2006, False)
    }
    # string ids (conversation ids) cluster the same way
    conv = [("c-07", "c-03"), ("c-03", "c-11"), ("c-20", "c-21"), ("c-30", "c-30")]
    df = spark.createDataFrame(conv, "doc_a string, doc_b string")
    got = {(r.doc_id, r.cluster_id, r.is_keeper)
           for r in dedup_clusters(df).collect()}
    assert got == _union_find_components(conv)


def test_dedup_clusters_job_count(spark):
    """Spark jobs per call (result collect included) stay below the
    better of the two connected-components paths this operator
    replaced: 53 jobs on a 41-node graph (17 two-node pairs + a 7-node
    chain) and 94 on a 50-deep chain."""
    from engine.spark.analytics import dedup_clusters

    sc = spark.sparkContext
    graphs = {
        "g41": (
            [(100 + 2 * i, 101 + 2 * i) for i in range(17)]
            + [(i, i + 1) for i in range(6)],
            53,
        ),
        "chain50": ([(i, i + 1) for i in range(50)], 94),
    }
    for name, (edges, bound) in graphs.items():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        group = f"dedup_clusters_job_count_{name}"
        sc.setJobGroup(group, group)
        try:
            n_rows = len(dedup_clusters(df).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_rows == (41 if name == "g41" else 51)
        assert 0 < jobs < bound, (name, jobs)


def test_pack_sequences_invariants(spark):
    """Packing invariants: within a shard, offsets are the exclusive
    running sum in doc_id order (contiguous concat stream, no gaps or
    overlaps) and a document's bin is its start offset / seq_len."""
    from engine.spark.analytics import pack_sequences

    rows = pack_sequences(spark, "/root/testdata/sf0.001", seq_len=512).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) == 16
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in docs:
            assert r.start_tok == expect, (shard, r.doc_id)
            assert r.bin == r.start_tok // 512
            assert r.est_tokens >= 1
            expect += r.est_tokens


def test_lsh_verified_matches_bounded_jaccard(spark, planted_dir):
    """The production pair source (LSH candidates -> exact jaccard on
    candidates only) vs the all-pairs bounded jaccard path at the same
    threshold: every LSH pair must carry the IDENTICAL exact jaccard
    (the verify stage is exact, so zero false positives), and recall
    over the planted pairs follows the 8x4 LSH s-curve. Deterministic
    (fixed fixture + md5 hashing): (27, 102) at jaccard 0.829 misses
    every band here — the expected ~0.6% miss rate at that similarity
    (P[miss] = (1 - 0.829^4)^8), measured honestly rather than
    asserted away."""
    from engine.spark.analytics import dedup_ngram_jaccard, lsh_verified_pairs

    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_verified_pairs(spark, planted_dir, min_jaccard=0.5).collect()
    }
    allpairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(
            spark, planted_dir, max_doc_id=10**9, min_jaccard=0.5
        ).collect()
    }
    # no false positives, identical exact-jaccard values
    assert set(lsh) <= set(allpairs)
    for p, j in lsh.items():
        assert j == allpairs[p], p
    # recall on planted pairs: the near-exact dup is guaranteed; of the
    # three ~0.8-jaccard plants this fixture finds 2 (one deterministic
    # all-band miss, see docstring)
    assert (5, 200) in lsh and lsh[(5, 200)] == 1.0
    found = {(3, 100), (11, 101), (27, 102)} & set(lsh)
    assert len(found) >= 2, found
    assert set(allpairs) - set(lsh) == {(27, 102)}


@pytest.fixture(scope="module")
def boilerplate_dir(spark, tmp_path_factory):
    """Skewed corpus: 150 byte-identical boilerplate docs (they share
    every band bucket -> one oversized bucket per band) + 20 unrelated
    docs."""
    rng = random.Random(77)
    boiler = _doc(rng, 140)
    docs = [(i, boiler, "en", "boiler", 0) for i in range(150)]
    docs += [(500 + i, _doc(rng, 120), "en", "rand", 0) for i in range(20)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path_factory.mktemp("boiler"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def test_lsh_skew_guard_bounds_pairs(spark, boilerplate_dir):
    """Band-bucket skew evidence (measured, not claimed): with the
    hub-star guard the 150-doc boilerplate bucket emits O(n) pairs; an
    unguarded run emits the full O(n^2). Connectivity is preserved —
    the star still joins all 150 docs into one component."""
    from engine.spark.analytics import (
        _bucketed_pairs,
        _minhash_bands,
        dedup_clusters,
        dedup_minhash_lsh,
    )

    guarded = dedup_minhash_lsh(spark, boilerplate_dir).collect()
    boiler_pairs = [r for r in guarded if r.doc_a < 500 and r.doc_b < 500]
    assert len(boiler_pairs) == 149, len(boiler_pairs)  # star, not n^2/2
    assert all(r.est_jaccard == 1.0 and r.doc_a == 0 for r in boiler_pairs)

    bands = _minhash_bands(
        spark.read.parquet(f"{boilerplate_dir}/documents.parquet")
    )
    unguarded = _bucketed_pairs(bands, "sig", 10**9).count()
    assert unguarded >= 150 * 149 // 2  # the quadratic blowup the guard stops

    pairs = spark.createDataFrame(
        [(r.doc_a, r.doc_b) for r in boiler_pairs], "doc_a long, doc_b long"
    )
    clusters = dedup_clusters(pairs).collect()
    assert {r.cluster_id for r in clusters} == {0}
    assert len(clusters) == 150


def test_dedup_apply_lsh_survivors(spark, boilerplate_dir):
    """End-to-end production composition on the skewed corpus: all 149
    boilerplate copies drop (exact + near paths agree), the hub and the
    20 unrelated docs survive."""
    from engine.spark.analytics import dedup_apply_lsh

    survivors = sorted(
        r.doc_id for r in dedup_apply_lsh(spark, boilerplate_dir).collect()
    )
    assert survivors == [0] + [500 + i for i in range(20)]


def test_persisted_codebook_reproduces_inline_training(spark, tmp_path):
    """train-once / persist / load must give IDENTICAL results to
    in-line training (deterministic codebook; the serving-job path
    never re-samples)."""
    from engine.spark.analytics import (
        load_ivf_codebook,
        simsearch_ivf_centroids,
        train_ivf_codebook,
    )

    sf = "/root/testdata/sf0.001"
    cb_path = str(tmp_path / "codebook")
    train_ivf_codebook(spark, sf).write.parquet(cb_path)
    cb = load_ivf_codebook(spark, cb_path)
    served = sorted(
        tuple(r) for r in simsearch_ivf_centroids(spark, sf, codebook=cb).collect()
    )
    inline = sorted(
        tuple(r) for r in simsearch_ivf_centroids(spark, sf).collect()
    )
    assert served == inline and served


def test_corpus_prepare_filters_dedups_and_packs(spark, boilerplate_dir):
    """End-to-end pipeline semantics on the skewed fixture: the
    boilerplate dups collapse to their hub, quality-failing docs are
    gone, and the survivors are contiguously packed per shard."""
    from engine.spark.analytics import corpus_prepare, quality_filter_docs, _docs

    rows = corpus_prepare(spark, boilerplate_dir, min_words=30).collect()
    ids = sorted(r.doc_id for r in rows)
    # 150 identical boilerplate docs -> hub 0 survives; random docs
    # (120 words each, all past the quality gate) survive
    assert ids == [0] + [500 + i for i in range(20)]
    kept = quality_filter_docs(_docs(spark, boilerplate_dir), min_words=30).count()
    assert kept == 170  # gate is non-vacuous only on short docs; none here
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for docs in by_shard.values():
        docs.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in docs:
            assert r.start_tok == expect
            expect += r.est_tokens


def test_dedup_apply_embeddings_drops_planted(spark, tmp_path):
    """Planted near-identical vectors collapse to their min-id keeper;
    unrelated vectors and the zero-norm sentinel survive."""
    import random

    from engine.spark.analytics import dedup_apply_embeddings

    rng = random.Random(21)
    dim = 32
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(100)]
    for j, base_id in enumerate((7, 40, 88)):
        rows.append((500 + j, [x + rng.gauss(0, 0.001) for x in rows[base_id][1]]))
    rows.append((900, [0.0] * dim))  # zero-norm failed-embedding row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "embdir")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    kept = sorted(
        r.vec_id
        for r in dedup_apply_embeddings(spark, out, threshold=0.95).collect()
    )
    assert kept == list(range(100)) + [900]


def test_dedup_incremental_state_roundtrip(spark, planted_dir, tmp_path):
    """The persisted-state path (build_dedup_state parquet round-trip)
    must give exactly the in-plan driver results, and the planted
    cross-batch duplicates must drop: with even ids as history, doc 5
    (exact copy of old 200) drops at the hash stage, doc 3 (near-dup
    of old 100) at the signature-estimate stage, and the within-batch
    pair (11, 101) keeps its min id only."""
    from engine.spark.analytics import (
        _docs,
        build_dedup_state,
        dedup_incremental,
        dedup_incremental_batch,
    )

    docs = _docs(spark, planted_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    build_dedup_state(old, state)
    via_state = sorted(
        r.doc_id
        for r in dedup_incremental_batch(
            new,
            spark.read.parquet(f"{state}/exact"),
            spark.read.parquet(f"{state}/bands"),
        ).collect()
    )
    inline = sorted(
        r.doc_id for r in dedup_incremental(spark, planted_dir).collect()
    )
    assert via_state == inline
    assert 5 not in via_state  # exact dup of history doc 200
    assert 3 not in via_state  # near-dup of history doc 100
    assert 101 not in via_state and 11 in via_state  # in-batch pair

    # --- second batch against the UPDATED state (same flow continued
    # to avoid re-paying the state build + batch-1 run): an exact copy
    # of batch-1 survivor 11 drops, a fresh document survives
    from engine.spark.analytics import update_dedup_state

    surv1 = spark.createDataFrame(
        [(i,) for i in via_state], "doc_id long"
    )
    update_dedup_state(new, surv1, state)
    text11 = docs.filter(F.col("doc_id") == 11).collect()[0].text
    fresh = _doc(random.Random(999))
    b2 = spark.createDataFrame(
        [(1001, text11), (1002, fresh)], "doc_id long, text string"
    )
    surv2 = sorted(
        r.doc_id
        for r in dedup_incremental_batch(
            b2,
            spark.read.parquet(f"{state}/exact"),
            spark.read.parquet(f"{state}/bands"),
        ).collect()
    )
    assert surv2 == [1002]


def test_stratified_sample_deterministic_and_nested(spark):
    """Hash-keyed sampling: the same salt reproduces the identical
    sample; raising every rate grows it into a superset (fixed-u
    nesting — the property that makes rate changes incremental instead
    of a full redraw); a different salt draws a different sample."""
    from engine.spark.analytics import stratified_sample

    sf = "/root/testdata/sf0.001"
    lo = {"en": 0.3, "es": 0.3, "de": 0.3, "fr": 0.3, "und": 0.3}
    hi = {k: 0.6 for k in lo}
    a = {r.doc_id for r in stratified_sample(spark, sf, lo).collect()}
    b = {r.doc_id for r in stratified_sample(spark, sf, lo).collect()}
    big = {r.doc_id for r in stratified_sample(spark, sf, hi).collect()}
    other = {
        r.doc_id
        for r in stratified_sample(spark, sf, lo, salt="strat-v2").collect()
    }
    assert a == b
    assert a < big
    assert other != a


def test_repetition_metrics_planted(spark, tmp_path):
    """Exact fractions on planted docs: a heavily repeated doc trips
    the gate, a unique-word doc doesn't, and a single-word doc gets
    null 2-gram fracs (no grams) without tripping a null-propagation
    error in the gate."""
    from engine.spark.analytics import repetition_metrics

    uniq = " ".join(f"w{i}" for i in range(15))
    df = spark.createDataFrame(
        [(1, "a a a a b"), (2, uniq), (3, "solo")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "docs")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    rows = {
        r.doc_id: r for r in repetition_metrics(spark, out).collect()
    }
    r1 = rows[1]
    assert (r1.n_words, r1.dup_word_frac, r1.top_word_frac) == (5, 0.6, 0.8)
    assert (r1.dup_2gram_frac, r1.top_2gram_frac) == (0.5, 0.75)
    assert r1.repetitive
    r2 = rows[2]
    assert (r2.dup_word_frac, r2.top_word_frac) == (0.0, 0.066667)
    assert not r2.repetitive
    r3 = rows[3]
    assert (r3.n_words, r3.top_word_frac) == (1, 1.0)
    assert r3.dup_2gram_frac is None and r3.top_2gram_frac is None
    assert r3.repetitive  # word arm fires; null 2-gram arm must not veto


def test_vocab_top_k_truncation_and_corpus_stats(spark, tmp_path):
    """Top-k truncation under a count tie is deterministic via the
    (count DESC, word ASC) total order; corpus_stats gets exact values
    on a corpus tiny enough to check by hand (incl. a planted exact
    duplicate driving the dup rate)."""
    from engine.spark.analytics import corpus_stats, vocab_top_k

    df = spark.createDataFrame(
        [(1, "b b b a a a c c d e"), (2, "b b b a a a c c d e")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "docs")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    top = [(r.word, r.n) for r in vocab_top_k(spark, out, k=3).collect()]
    assert top == [("a", 6), ("b", 6), ("c", 4)]

    cs = corpus_stats(spark, out).collect()[0]
    assert (cs.n_docs, cs.total_words, cs.avg_words) == (2, 20, 10.0)
    assert (cs.p50_words, cs.p90_words) == (10.0, 10.0)
    assert cs.exact_dup_rate == 0.5  # the two docs are identical


def test_pii_scrub_batch_planted(spark):
    """Counts and redaction on planted text: two emails + one phone
    scrub to typed placeholders; clean text passes through unchanged."""
    from engine.spark.analytics import pii_scrub_batch

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+e@f-g.org now 12-345-678-9012 end"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub_batch(df).collect()}
    assert (rows[1].n_emails, rows[1].n_phones) == (2, 1)
    assert rows[1].scrubbed == "mail <EMAIL> and <EMAIL> now <PHONE> end"
    assert (rows[2].n_emails, rows[2].n_phones) == (0, 0)
    assert rows[2].scrubbed == "no pii here"


def test_decontaminate_batch_planted(spark):
    """A corpus doc embedding any 13-gram of an eval doc drops; an
    unrelated doc survives, and so does a doc shorter than 13 words —
    even a verbatim PREFIX of an eval doc (it carries no 13-gram).
    The driver form must be non-vacuous at sf0.01 (some docs actually
    drop), otherwise its oracle match would prove nothing."""
    from engine.spark.analytics import decontaminate, decontaminate_batch

    ev_text = " ".join(f"bench{i}" for i in range(20))
    contaminated = (
        "intro words here "
        + " ".join(f"bench{i}" for i in range(5, 18))
        + " trailing words"
    )
    clean = " ".join(f"other{i}" for i in range(40))
    short_prefix = " ".join(f"bench{i}" for i in range(12))
    ev = spark.createDataFrame([(0, ev_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, contaminated), (2, clean), (3, short_prefix)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in decontaminate_batch(corpus, ev).collect())
    assert kept == [2, 3]

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_corpus = docs.filter(F.col("doc_id") % 5 != 0).count()
    n_kept = decontaminate(spark, sf).count()
    assert 0 < n_kept < n_corpus


def test_c4_clean_batch_planted(spark):
    """Every C4 rule fires on planted fixtures: terminal-punct line
    rule, min-words line rule, brace and lorem document flags, the
    min-kept-lines document rule, and the empty-doc degenerate. The
    driver form's non-vacuity at sf0.01 is asserted separately."""
    from engine.spark.analytics import c4_clean_batch

    good = "one two three words here.\nanother good long line!"
    docs = [
        # 3 kept lines -> keep_doc
        (1, good + '\nthird fine line here?\nshort no.\nno punct line here'),
        # only 2 kept lines -> dropped by min_kept_lines
        (2, good),
        # brace flag kills an otherwise-keepable doc
        (3, good + "\nthird fine line here?\nif (x) { return }"),
        # lorem flag, case-insensitive
        (4, good + "\nthird fine line here?\nLorem Ipsum dolor sit amet."),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = {x.doc_id: x for x in c4_clean_batch(df).collect()}
    assert r[1].keep_doc and r[1].n_kept == 3 and r[1].n_lines == 5
    assert r[1].cleaned_text.count("\n") == 2  # kept lines only
    assert not r[2].keep_doc and r[2].n_kept == 2
    assert not r[3].keep_doc and r[3].has_brace and r[3].n_kept == 3
    assert not r[4].keep_doc and r[4].has_lorem and r[4].n_kept == 4
    assert not r[5].keep_doc and r[5].n_kept == 0 and r[5].cleaned_text == ""


def test_c4_clean_driver_form_non_vacuous(spark):
    """The synthesized line structure must exercise both branches of
    every rule at sf0.01 — keep_doc splits, kept-line fraction strictly
    inside (0, 1), and at least one line dropped by min-words alone
    (ends in punct but too short)."""
    from engine.spark.analytics import c4_clean

    rows = c4_clean(spark, "/root/testdata/sf0.01").collect()
    keeps = sum(1 for r in rows if r.keep_doc)
    assert 0 < keeps < len(rows)
    tot_lines = sum(r.n_lines for r in rows)
    tot_kept = sum(r.n_kept for r in rows)
    assert 0 < tot_kept < tot_lines


def test_lm_unigram_score_planted(spark, tmp_path):
    """Hand-computed bits on a tiny corpus: vocab_k=1 makes 'aa' the
    only in-vocab word (count tie broken alphabetically), everything
    else OOV at constant probability — both the smoothing math and the
    keep gate are checked against exact expected values."""
    import math

    from engine.spark.analytics import lm_unigram_score

    d = tmp_path / "docs"
    spark.createDataFrame(
        [(1, "aa aa bb"), (2, "cc dd")],
        "doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in lm_unigram_score(
            spark, str(d), vocab_k=1, lam=0.9, keep_bits=4.0
        ).collect()
    }
    # T=5 total words; p(aa) = 0.9*2/5 + 0.1/2, p(oov) = 0.1/2
    p_aa = 0.9 * 2 / 5 + (1.0 - 0.9) / 2
    p_oov = (1.0 - 0.9) / 2
    b1 = round(-(2 * math.log2(p_aa) + math.log2(p_oov)) / 3, 6)
    b2 = round(-math.log2(p_oov), 6)
    assert (out[1].n_words, out[1].n_oov) == (3, 1)
    assert out[1].bits_per_word == b1 and out[1].keep_doc == (b1 <= 4.0)
    assert (out[2].n_words, out[2].n_oov) == (2, 2)
    assert out[2].bits_per_word == b2 and not out[2].keep_doc


def test_dedup_keep_best_policy(spark, tmp_path):
    """Hand-computed keep-best selection: the cluster keeper is the
    LONGEST member (not the min id — doc 2 beats docs 1/3), equal
    lengths tie-break to min id (doc 20 beats 21), exact twins are
    dropped without double-crediting kept_over, and isolated docs
    survive with kept_over 0. Pins the policy so a refactor back to
    min-id keepers can't pass silently."""
    from engine.spark.analytics import dedup_keep_best

    base = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    d = tmp_path / "docs"
    spark.createDataFrame(
        [
            (1, base),
            (2, base + " a11 a12 a13 a14"),   # longest cluster member
            (3, base),                         # exact twin of doc 1
            (10, "zz yy xx ww vv"),            # isolated
            (20, "p1 p2 p3 p4 p5 p6 p7 p8 p9 pA"),
            (21, "p1 p2 p3 p4 p5 p6 p7 p8 p9 pB"),  # same length as 20
        ],
        "doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r.kept_over for r in dedup_keep_best(spark, str(d)).collect()}
    # cluster {1,2,3}: keeper 2 (longest), displaced 2 mates;
    # cluster {20,21}: equal length -> min id 20; doc 10 untouched
    assert out == {2: 2, 10: 0, 20: 1}


def test_line_dedup_intra_first_occurrence(spark):
    """Hand-computed within-doc line dedup: later verbatim repeats
    (trim+lower normalized) are struck, first occurrences keep their
    ORIGINAL casing/spacing and order; a repeat-free doc passes
    through unchanged."""
    from engine.spark.analytics import line_dedup_intra_batch

    df = spark.createDataFrame(
        [
            (1, "Hello\nworld\nhello \nHELLO\nworld"),
            (2, "a\nb\nc"),
            (3, None),  # dropped — the family's NULL-text semantics
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_intra_batch(df).collect()}
    assert set(out) == {1, 2}
    assert out[1].cleaned_text == "Hello\nworld"
    assert (out[1].n_lines, out[1].n_repeat, out[1].repeat_frac) == (5, 3, 0.6)
    assert out[2].cleaned_text == "a\nb\nc" and out[2].n_repeat == 0


def test_line_dedup_intra_driver_form_non_vacuous(spark):
    """The synthesized corpus repeats a full line inside the same doc
    occasionally — the driver form must catch some (24 at sf0.01) and
    must not strike everything."""
    from engine.spark.analytics import line_dedup_intra

    rows = line_dedup_intra(spark, "/root/testdata/sf0.01").collect()
    total_rep = sum(r.n_repeat for r in rows)
    assert total_rep > 0
    assert all(r.n_repeat < r.n_lines for r in rows)


def test_token_budget_select_prefix_rule(spark, tmp_path):
    """Hand-simulated budget selection: ranked by (distinct-word score
    DESC, doc_id), keep the maximal prefix with running est ≤ budget —
    including a PARTIAL boundary group (two docs share the cutoff
    score; only the lower-id one fits the remaining budget) and the
    all-fits fast path."""
    from engine.spark.analytics import token_budget_select

    rows = [
        (1, "a b c d e f g h"),            # 8 distinct
        (2, "a a a a a a a a"),            # 1 distinct
        (3, "x y z p q r s t u v"),        # 10 distinct
        (4, "m n o"),                      # 3 distinct
        (5, "aa bb cc dd ee ff gg hh ii jj kk ll"),  # 12 distinct
        (6, "p2 q2 r2 s2 t2 u2 v2 w2"),    # 8 distinct (ties doc 1)
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )

    def expect(budget):
        scored = sorted(
            ((len(set(t.split())), max(1, len(t) // 4), i) for i, t in rows),
            key=lambda x: (-x[0], x[2]),
        )
        out, acc = set(), 0
        for score, est, i in scored:
            if acc + est > budget:
                break
            acc += est
            out.add(i)
        return out

    for budget in (18, 5, 10_000):
        got = {r.doc_id for r in token_budget_select(spark, str(d), budget).collect()}
        assert got == expect(budget), budget
    # budget 18 specifically exercises the partial boundary group:
    # docs 1 and 6 tie at score 8; only doc 1 fits the remainder
    assert expect(18) == {5, 3, 1}


def test_token_budget_select_non_vacuous_sf001(spark):
    """At the oracle-pinned budget (20k) the sf0.01 corpus must split —
    some selected, some dropped — so the driver row checks a real
    decision, not a copy of the corpus."""
    from engine.spark.analytics import token_budget_select

    n = token_budget_select(spark, "/root/testdata/sf0.01").count()
    total = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").count()
    assert 0 < n < total


def test_lm_unigram_driver_form_non_vacuous(spark):
    """keep_doc must split and OOV must fire at sf0.01 — the corpus
    has 31 distinct words, so vocab_k=16 leaves real OOV mass."""
    from engine.spark.analytics import lm_unigram_score

    rows = lm_unigram_score(spark, "/root/testdata/sf0.01").collect()
    keeps = sum(1 for r in rows if r.keep_doc)
    assert 0 < keeps < len(rows)
    assert sum(r.n_oov for r in rows) > 0


def test_dedup_conversations_planted(spark):
    """Conversation fingerprints: identical (turn_idx -> text) maps
    collide (keeper = min conv_id), same texts in a DIFFERENT order
    don't, a one-turn difference doesn't, identical maps spanning
    multiple SKEW_BLOCK blocks still collide (block decomposition is
    invisible), and gapped indices are a different conversation from
    dense ones even with identical ordered texts."""
    from engine.spark.pipeline import dedup_conversations

    rows = [
        ("a", 0, "hello"), ("a", 1, "world"),
        ("b", 0, "hello"), ("b", 1, "world"),      # dup of a
        ("c", 0, "world"), ("c", 1, "hello"),      # same set, other order
        ("d", 0, "hello"), ("d", 1, "world!"),     # one turn differs
        # e and f: identical maps with turns in blocks 0 and 1
        ("e", 0, "x"), ("e", 15000, "y"),
        ("f", 0, "x"), ("f", 15000, "y"),
        # g: same ordered texts but dense indices — a different
        # (turn_idx -> text) map, so NOT a duplicate of e
        ("g", 0, "x"), ("g", 1, "y"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, cleaned_text string")
    out = {r.conv_id: r for r in dedup_conversations(df).collect()}
    assert out["a"].conv_fp == out["b"].conv_fp
    assert out["a"].is_keeper and not out["b"].is_keeper
    assert out["b"].keep_conv_id == "a"
    assert out["c"].conv_fp != out["a"].conv_fp and out["c"].is_keeper
    assert out["d"].conv_fp != out["a"].conv_fp
    assert out["e"].conv_fp == out["f"].conv_fp
    assert out["e"].is_keeper and not out["f"].is_keeper
    assert out["g"].conv_fp != out["e"].conv_fp and out["g"].is_keeper
    assert all(r.n_turns == 2 for r in out.values())


def test_dedup_conversations_non_vacuous_at_sf001(spark):
    """The driver entry plants duplicate conversations (md5-selected
    ~1/16 re-added under a '~dup' suffix, same rule in both engines),
    so it must find real drops — otherwise its oracle match proves
    nothing — and every planted dup must resolve to its original as
    the keeper."""
    import __spark_entry__ as em

    rows = em.queries()["dedup_conversations"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    drops = [r for r in rows if not r.is_keeper]
    assert rows and drops, (len(rows), len(drops))
    assert all(r.conv_id.endswith("~dup") for r in drops)
    assert all(r.conv_id == r.keep_conv_id + "~dup" for r in drops)


def test_mix_corpus_rates_and_flattening(spark, tmp_path):
    """Temperature-mixing math on a controlled 2-language corpus
    (90 en / 10 es): the rarest language keeps everything (rate 1.0),
    the common one keeps (n_es/n_en)^(1-α), every kept doc satisfies
    u < rate, and the op is deterministic across calls."""
    from engine.spark.analytics import mix_corpus

    d = tmp_path / "docs"
    rows = [(i, "the and of is to") for i in range(90)] + [
        (100 + i, "el la que de los") for i in range(10)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    out = mix_corpus(spark, str(d), alpha=0.3).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang_pred, []).append(r)
    # rarest language: rate 1.0, all 10 kept
    assert len(by_lang["es"]) == 10
    assert all(r.rate == 1.0 for r in by_lang["es"])
    # common language: rate = (90/10)^(alpha-1) = 9^-0.7 ~ 0.2146
    exp = round((90.0 ** (0.3 - 1.0)) / (10.0 ** (0.3 - 1.0)), 6)
    assert all(r.rate == exp for r in by_lang["en"])
    assert 0 < len(by_lang["en"]) < 90
    assert all(r.u < r.rate for r in out)
    again = mix_corpus(spark, str(d), alpha=0.3).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in out)


def test_transcript_prepare_pipeline_semantics(spark):
    """End-to-end transcript pipeline on a hand-built fixture: the
    duplicate conversation is dropped by dedup (not packed), the
    too-short conversation is dropped by the token floor, the
    mostly-empty conversation by the empty-fraction cap, and the
    survivors pack contiguously per shard with no overlap."""
    from engine.spark.pipeline import transcript_prepare

    long_text = "w " * 200  # ~100 est tokens per turn
    rows = [
        ("a", 0, long_text), ("a", 1, long_text),
        ("b", 0, long_text), ("b", 1, long_text + "x"),  # distinct
        ("dup", 0, long_text), ("dup", 1, long_text),    # exact dup of a
        ("tiny", 0, "short"),                            # < 64 tokens
        ("empty2", 0, long_text), ("empty2", 1, ""),
        ("empty2", 2, ""), ("empty2", 3, ""),            # 3/4 empty
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, cleaned_text string"
    )
    out = {r.conv_id: r for r in transcript_prepare(df).collect()}
    assert set(out) == {"a", "b"}
    # packing invariants: per shard, offsets are contiguous in conv_id
    # order starting at 0
    by_shard = {}
    for r in out.values():
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.conv_id)
        off = 0
        for r in rs:
            assert r.start_tok == off
            assert r.bin == off // 4096
            off += r.est_tokens


def test_gate_boundary_division_identical_both_engines(spark):
    """r4 verdict task #6: the quality gate `n_empty / n_turns <= 0.5`
    relies on TRUE (double) division in BOTH engines — Spark's `/` on
    longs and DuckDB's `/` on BIGINTs each promote to double, and
    2/4 == 0.5 is exact in IEEE so the boundary row is stable. A
    refactor to integer division (`//` / `div`) on EITHER side would
    make 3/4 → 0 and silently ADMIT mostly-empty conversations. Pin
    it: a conversation at exactly 50% empty is KEPT by both engines,
    one at 75% is DROPPED by both, including odd denominators (2/3)
    where the double is not exactly representable."""
    import duckdb
    import pandas as pd

    from engine.spark.pipeline import transcript_prepare

    long_text = "w " * 200  # ~100 est tokens per non-empty turn
    rows = [
        # exactly 2/4 empty — the boundary: ratio == 0.5, kept
        ("half", 0, long_text), ("half", 1, long_text + "a"),
        ("half", 2, ""), ("half", 3, ""),
        # 3/4 empty — dropped (int division would keep it: 3//4 == 0)
        ("most", 0, long_text + "b"), ("most", 1, ""),
        ("most", 2, ""), ("most", 3, ""),
        # 2/3 empty — dropped; 2/3 is NOT exactly representable, both
        # engines must round it identically (they do: same double)
        ("twothirds", 0, long_text + "c"),
        ("twothirds", 1, ""), ("twothirds", 2, ""),
        # 1/3 empty — kept
        ("third", 0, long_text + "d"), ("third", 1, long_text + "e"),
        ("third", 2, ""),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, cleaned_text string"
    )
    spark_kept = {r.conv_id for r in transcript_prepare(df).collect()}
    assert spark_kept == {"half", "third"}

    # the DuckDB twin's gate expression, verbatim, over the same rows
    con = duckdb.connect()
    con.register(
        "pt", pd.DataFrame(rows, columns=["conv_id", "turn_idx", "cleaned_text"])
    )
    oracle_kept = {
        r[0]
        for r in con.execute(
            """
            SELECT conv_id FROM (
                SELECT conv_id,
                       count(*) AS n_turns,
                       CAST(sum(greatest(1, floor(length(
                           coalesce(cleaned_text, '')) / 4))) AS BIGINT)
                           AS est_tokens,
                       sum(CASE WHEN coalesce(cleaned_text, '') = ''
                                THEN 1 ELSE 0 END) AS n_empty
                FROM pt GROUP BY conv_id)
            WHERE est_tokens >= 64 AND n_empty / n_turns <= 0.5
            """
        ).fetchall()
    }
    con.close()
    assert oracle_kept == spark_kept


def test_transcript_prepare_driver_non_vacuous(spark):
    """Every stage must fire on the real corpus: planted dups are
    dropped (never packed), the token floor drops some conversations,
    and at least one conversation survives to be packed."""
    import __spark_entry__ as em

    rows = em.queries()["transcript_prepare"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    packed_ids = {r.conv_id for r in rows}
    assert not any(c.endswith("~dup") for c in packed_ids)
    # the union input had ~1/16 planted dups + all originals; dedup
    # dropped the dups and the token floor dropped the short convs
    ded = em.queries()["dedup_conversations"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    keepers = {r.conv_id for r in ded if r.is_keeper}
    assert packed_ids < keepers  # strictly smaller -> quality gate fired


def test_sft_examples_contiguous_suffix_semantics(spark):
    """Context windows cut exactly as SFT loaders cut them: walk back
    from the nearest turn, stop at the first overflow — a small far
    turn must NOT sneak in after a near big one overflowed; budget-
    exact fits count; turn-0 targets get an empty window; non-assistant
    turns produce no example."""
    from engine.spark.pipeline import sft_examples

    def turn(conv, idx, role, n_tokens):
        # text of length 4*n tokens (T7: floor(len/4), floor 1)
        return (conv, idx, role, "x" * (4 * n_tokens))

    rows = [
        # conv A: tokens [10, 100, 10, target]; budget 30 →
        # walking back: 10 fits (sum 10), 100 overflows → STOP;
        # the far 10 must not be counted even though 10+10 <= 30
        turn("A", 0, "user", 10),
        turn("A", 1, "tool", 100),
        turn("A", 2, "user", 10),
        turn("A", 3, "assistant", 5),
        # conv B: exact-fit boundary: 15 + 15 == 30 → both fit
        turn("B", 0, "user", 15),
        turn("B", 1, "user", 15),
        turn("B", 2, "assistant", 7),
        # conv C: assistant at turn 0 → empty window
        turn("C", 0, "assistant", 9),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, cleaned_text string"
    )
    out = {r.conv_id: r for r in sft_examples(df, max_context_tokens=30).collect()}
    assert set(out) == {"A", "B", "C"}
    a = out["A"]
    assert (a.target_idx, a.target_tokens) == (3, 5)
    assert (a.n_context_turns, a.context_tokens, a.context_from_idx) == (1, 10, 2)
    b = out["B"]
    assert (b.n_context_turns, b.context_tokens, b.context_from_idx) == (2, 30, 0)
    c = out["C"]
    assert (c.n_context_turns, c.context_tokens, c.context_from_idx) == (0, 0, 0)


def test_sft_examples_driver_non_vacuous(spark):
    """The synthetic transcripts must produce real examples with a
    spread of window sizes — some truncated by the budget, some not —
    or the oracle match proves nothing."""
    import __spark_entry__ as em

    rows = em.queries()["sft_examples"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert any(r.n_context_turns > 0 for r in rows)
    sizes = {r.n_context_turns for r in rows}
    assert len(sizes) > 1, sizes


def test_line_dedup_batch_planted(spark):
    """Corpus-global boilerplate strike-out: a line repeated across
    min_count documents is struck from every one of them (normalized
    match: trim+lower), unique lines survive, reconstruction preserves
    order, and an all-boilerplate doc rebuilds to ''."""
    from engine.spark.analytics import line_dedup_batch

    banner = "Subscribe To Our Newsletter"
    docs = [
        (1, f"unique alpha line\n{banner}\nunique beta line"),
        (2, f"{banner.lower()}\nanother unique line"),
        (3, f"  {banner}  \nthird unique line"),
        (4, banner),
        (5, "no boilerplate here at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup_batch(df, min_count=4).collect()}
    assert out[1].cleaned_text == "unique alpha line\nunique beta line"
    assert (out[1].n_lines, out[1].n_boiler) == (3, 1)
    assert out[2].cleaned_text == "another unique line"
    assert out[3].cleaned_text == "third unique line"
    assert out[4].cleaned_text == "" and out[4].boiler_frac == 1.0
    assert out[5].n_boiler == 0 and out[5].cleaned_text == docs[4][1]


def test_line_dedup_driver_non_vacuous(spark):
    """The global threshold must fire on a real fraction of lines at
    sf0.01 (some docs cleaned, some untouched) or the oracle match
    proves nothing."""
    from engine.spark.analytics import line_dedup

    rows = line_dedup(spark, "/root/testdata/sf0.01").collect()
    tot = sum(r.n_lines for r in rows)
    boiler = sum(r.n_boiler for r in rows)
    assert 0 < boiler < tot
    assert any(r.n_boiler == 0 for r in rows)
    assert any(r.n_boiler > 0 for r in rows)


def test_internal_ngram_overlap_planted(spark, tmp_path):
    """Repeated-span semantics: a doc embedding a verbatim span from
    another doc is flagged even though whole-doc similarity is low; a
    doc repeating ITS OWN phrase is not (self-repeats don't count);
    fully distinct docs score zero; and the sharing is symmetric (the
    source doc's copied span counts as shared too)."""
    from engine.spark.analytics import internal_ngram_overlap

    span = "copied span alpha beta gamma delta"
    a = "srcw0 srcw1 srcw2 srcw3 " + span + " srcw4 srcw5 srcw6 srcw7 srcw8 srcw9"
    b = "unrel0 unrel1 unrel2 " + span + " unrel3 unrel4 unrel5"
    self_rep = ("own phrase one two " * 4).strip()
    clean = " ".join(f"solo{i}" for i in range(20))
    d = tmp_path / "docs"
    spark.createDataFrame(
        [(1, a), (2, b), (3, self_rep), (4, clean)],
        "doc_id long, text string",
    ).write.parquet(str(d / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in internal_ngram_overlap(spark, str(d), n=4, threshold=0.15).collect()
    }
    # span has 6 words -> 3 shared 4-grams in each carrier
    assert out[1].n_shared == 3 and out[2].n_shared == 3
    assert out[1].has_repeated_spans and out[2].has_repeated_spans
    assert out[3].n_shared == 0 and not out[3].has_repeated_spans
    assert out[4].n_shared == 0 and out[4].shared_frac == 0.0


def test_internal_ngram_overlap_driver_non_vacuous(spark):
    from engine.spark.analytics import internal_ngram_overlap

    rows = internal_ngram_overlap(spark, "/root/testdata/sf0.01").collect()
    flagged = sum(1 for r in rows if r.has_repeated_spans)
    assert 0 < flagged < len(rows)


def test_lm_bigram_score_orders_fluency(spark, tmp_path):
    """A document made of the corpus' most common bigrams must score
    fewer bits than one whose words never co-occur; one-word documents
    have no bigrams and are absent by definition."""
    import pandas as pd

    from engine.spark.analytics import lm_bigram_score

    common = "the cat sat on the mat " * 30
    fluent = "the cat sat on the mat the cat sat"
    salad = "mat the on sat zq cat xv the qq sat"
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [common, fluent, salad, "solo"],
        }
    )
    rows.to_parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in lm_bigram_score(spark, str(tmp_path)).collect()
    }
    assert 4 not in got  # single word -> no bigrams
    # fluency ordering: pure common-bigram doc < mostly-fluent < salad
    # (the fixture has <64 distinct bigrams so nothing is OOV — the
    # ordering comes entirely from the conditional probabilities)
    assert (
        got[1]["bits_per_bigram"]
        <= got[2]["bits_per_bigram"]
        < got[3]["bits_per_bigram"]
    )


def test_lm_bigram_gate_splits_corpus(spark):
    from pyspark.sql import functions as F

    from engine.spark.analytics import lm_bigram_score

    agg = (
        lm_bigram_score(spark, "/root/testdata/sf0.01")
        .agg(
            F.sum(F.col("keep_doc").cast("long")).alias("k"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    assert 0 < agg["k"] < agg["n"]


def test_decontaminate_fuzzy_batch_planted(spark):
    """The near-dup decontamination arm: a corpus doc that is a lightly
    EDITED copy of an eval doc (no long verbatim run survives, so the
    exact 13-gram rule misses it) drops on MinHash signature agreement;
    an unrelated doc and a doc sharing only scattered words survive.
    Driver form non-vacuous at sf0.01 AND strictly stronger there than
    the exact arm (the planted near-dup families straddle the % 5
    split)."""
    from engine.spark.analytics import (
        decontaminate,
        decontaminate_batch,
        decontaminate_fuzzy,
        decontaminate_fuzzy_batch,
    )

    base = [f"word{i}" for i in range(100)]
    edited = list(base)
    # a swap every 12 words: every clean run is < 13 words (no exact
    # 13-gram survives) while 3-shingle jaccard stays ~0.6 > 0.5
    for pos in range(7, 100, 12):
        edited[pos] = f"swap{pos}"
    scattered = " ".join(f"word{i} filler{i} pad{i}" for i in range(0, 60, 3))
    ev = spark.createDataFrame(
        [(0, " ".join(base))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, " ".join(edited)),
            (2, " ".join(f"other{i}" for i in range(100))),
            (3, scattered),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in decontaminate_fuzzy_batch(corpus, ev).collect()
    )
    assert kept == [2, 3]
    # the edit broke every 13-gram, so the EXACT arm keeps doc 1
    kept_exact = sorted(
        r.doc_id for r in decontaminate_batch(corpus, ev).collect()
    )
    assert 1 in kept_exact

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_corpus = docs.filter(F.col("doc_id") % 5 != 0).count()
    n_fuzzy = decontaminate_fuzzy(spark, sf).count()
    assert 0 < n_fuzzy < n_corpus
    assert n_fuzzy < decontaminate(spark, sf).count()


def test_boilerplate_ngrams_batch_planted(spark):
    """Document frequency counts DISTINCT docs (a doc repeating the
    gram 3 times still counts once), the min_docs filter holds, and the
    (doc_freq DESC, gram) ordering is exact."""
    from engine.spark.analytics import boilerplate_ngrams_batch

    shared = "alpha beta gamma delta epsilon"
    rarer = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1 {shared} {shared}"),  # repeats count once
            (2, f"lead2 {shared} tail2"),
            (3, f"{shared} and {rarer} mix3"),
            (4, f"{rarer} solo4"),
            (5, f"{rarer} solo5"),
            (6, "completely unrelated text body here"),
        ],
        "doc_id long, text string",
    )
    rows = boilerplate_ngrams_batch(docs, n=5, min_docs=3, top_k=10).collect()
    table = [(r.gram, r.doc_freq) for r in rows]
    assert (shared, 3) in table and (rarer, 3) in table
    # every row clears min_docs and ordering is (doc_freq DESC, gram)
    assert all(f >= 3 for _, f in table)
    assert table == sorted(table, key=lambda t: (-t[1], t[0]))
    # no gram from a single doc leaks in
    assert not any("unrelated" in g for g, _ in table)


def test_shuffle_shards_batch_invariants(spark):
    """The shard manifest is a seed-pure permutation: every id appears
    exactly once, pos is contiguous 1..|shard| within each shard, the
    result is partition-invariant (repartitioned input gives the
    byte-identical manifest), and a different seed yields a different
    order without losing any row."""
    from engine.spark.analytics import shuffle_shards_batch

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = shuffle_shards_batch(df, "doc_id", n_shards=7, seed="e1")
    rows = sorted(
        (r.doc_id, r.shard_id, r.pos) for r in out.collect()
    )
    assert len(rows) == 200 and len({d for d, _, _ in rows}) == 200
    by_shard: dict[int, list[int]] = {}
    for _, s, p in rows:
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # partition invariance
    rows13 = sorted(
        (r.doc_id, r.shard_id, r.pos)
        for r in shuffle_shards_batch(
            df.repartition(13), "doc_id", n_shards=7, seed="e1"
        ).collect()
    )
    assert rows13 == rows
    # re-seeding permutes: same ids, different (shard, pos) for most
    rows_e2 = sorted(
        (r.doc_id, r.shard_id, r.pos)
        for r in shuffle_shards_batch(df, "doc_id", n_shards=7, seed="e2").collect()
    )
    assert {d for d, _, _ in rows_e2} == {d for d, _, _ in rows}
    assert rows_e2 != rows


def test_contamination_report_planted(spark, tmp_path):
    """An eval doc with one verbatim-13-gram leak reports n_exact=1;
    an eval doc with a lightly EDITED leak (no 13-gram survives)
    reports n_fuzzy>=1 with n_exact=0; a clean eval doc emits no row.
    Uses eval_mod=2 over a planted parquet so ids control the split."""
    from engine.spark.analytics import contamination_report

    base = [f"word{i}" for i in range(100)]
    edited = list(base)
    for pos in range(7, 100, 12):
        edited[pos] = f"swap{pos}"
    rows = [
        # eval side (doc_id % 2 == 0)
        (0, " ".join(base)),                                 # fuzzily leaked
        (2, " ".join(f"bench{i}" for i in range(30))),        # exactly leaked
        (4, " ".join(f"clean{i}" for i in range(40))),        # no leak
        # corpus side (doc_id % 2 != 0)
        (1, " ".join(edited)),
        (3, "lead " + " ".join(f"bench{i}" for i in range(5, 20)) + " tail"),
        (5, " ".join(f"other{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text").cast("long"))
    path = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(f"{path}/documents.parquet")
    rep = {
        r.eval_id: (r.n_exact, r.n_fuzzy)
        for r in contamination_report(spark, path, eval_mod=2).collect()
    }
    assert rep[2][0] >= 1          # exact arm catches the verbatim leak
    assert rep[0] == (0, 1)        # fuzzy-only: edit broke every 13-gram
    assert 4 not in rep            # clean eval doc emits no row


def test_source_keywords_planted(spark):
    """df_source counts DISTINCT docs; a word present in every doc has
    idf = ln(1) = 0 and cannot outrank a source-specific word; min_df
    filters singletons; top-k per source respects (score DESC, word)."""
    from engine.spark.analytics import source_keywords_batch

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha shared", "A"),
            (2, "alpha shared", "A"),
            (3, "beta shared", "B"),
            (4, "beta shared", "B"),
            (5, "gamma shared", "B"),
        ],
        "doc_id long, text string, source string",
    )
    rows = source_keywords_batch(docs, top_k=2, min_df=2).collect()
    table = {(r.source, r.word): (r.df_source, r.score) for r in rows}
    # 'shared' is in all 5 docs -> idf 0 -> score 0 everywhere
    assert table[("A", "shared")][1] == 0.0
    # 'alpha' in 2/5 docs, only in A: df_source=2, score = 2*ln(5/2)
    import math
    assert table[("A", "alpha")] == (2, round(2 * math.log(5 / 2), 6))
    assert table[("B", "beta")] == (2, round(2 * math.log(5 / 2), 6))
    # gamma is a singleton (df 1 < min_df) -> filtered
    assert ("B", "gamma") not in table
    # score DESC puts the discriminative word first in each source
    assert table[("A", "alpha")][1] > table[("A", "shared")][1]


def test_dedup_job_decontaminate_and_manifest_modes(spark, tmp_path):
    """jobs/dedup_job.py in-process: the round-4 modes. decontaminate
    drops docs hit by EITHER arm against a real eval dir (a fuzzily
    edited leak AND a verbatim leak both drop; a clean doc survives);
    manifest writes a seeded epoch manifest whose re-run is idempotent
    and whose re-seed permutes."""
    import json
    import sys

    sys.path.insert(0, "jobs")
    try:
        import dedup_job
    finally:
        sys.path.pop(0)

    base = [f"word{i}" for i in range(100)]
    edited = list(base)
    for pos in range(7, 100, 12):
        edited[pos] = f"swap{pos}"
    bench = " ".join(f"bench{i}" for i in range(30))
    cdir, edir = str(tmp_path / "corpus"), str(tmp_path / "eval")
    spark.createDataFrame(
        [
            (1, " ".join(edited)),                    # fuzzy-only leak
            (2, " ".join(f"other{i}" for i in range(60))),  # clean
            (3, "lead " + bench + " tail"),           # verbatim leak
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{cdir}/documents.parquet")
    spark.createDataFrame(
        [(0, " ".join(base)), (4, bench)], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{edir}/documents.parquet")

    out = str(tmp_path / "out")
    rc = dedup_job.main(
        ["--input", cdir, "--output", out, "--mode", "decontaminate",
         "--eval-input", edir]
    )
    assert rc == 0
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{out}/decontaminated").collect()
    )
    assert kept == [2]
    metrics = json.loads(
        spark.read.text(f"{out}/metrics_decontaminate").collect()[0][0]
    )
    assert metrics["rows_in"] == 3 and metrics["rows_out"] == 1

    out2 = str(tmp_path / "out2")
    argv = ["--input", cdir, "--output", out2, "--mode", "manifest",
            "--shards", "3", "--seed", "e1"]
    assert dedup_job.main(argv) == 0
    m1 = sorted(
        map(tuple, spark.read.parquet(f"{out2}/manifest_e1").collect())
    )
    assert len(m1) == 3 and {r[0] for r in m1} == {1, 2, 3}
    # idempotent re-run
    assert dedup_job.main(argv) == 0
    assert sorted(
        map(tuple, spark.read.parquet(f"{out2}/manifest_e1").collect())
    ) == m1
    # re-seed permutes without losing rows
    assert dedup_job.main(
        ["--input", cdir, "--output", out2, "--mode", "manifest",
         "--shards", "3", "--seed", "e2"]
    ) == 0
    m2 = sorted(
        map(tuple, spark.read.parquet(f"{out2}/manifest_e2").collect())
    )
    assert {r[0] for r in m2} == {1, 2, 3} and m2 != m1
    # per-seed metrics: e2's run record must not clobber e1's
    for seed in ("e1", "e2"):
        rec = json.loads(
            spark.read.text(f"{out2}/metrics_manifest_{seed}").collect()[0][0]
        )
        assert rec["output"].endswith(f"manifest_{seed}")


def test_dedup_report_planted(spark, planted_dir):
    """The dataset card over the planted corpus: 44 docs (40 base + 3
    near-dup partners + 1 exact dup), exactly one exact-surplus doc,
    the planted pairs surfacing as verified near-dups in 2-doc
    components, and the drop fraction consistent with the drop count."""
    from engine.spark.analytics import dedup_report

    row = dedup_report(spark, planted_dir).collect()[0]
    assert row.n_docs == 44
    assert row.n_exact_extra == 1
    assert row.n_near_pairs >= 3   # (3,100),(11,101),(5,200); (27,102)
    # may miss every band (documented s-curve miss)
    assert row.n_components >= 3
    assert row.largest_component == 2   # planted dups are pairs
    assert row.n_dropped >= 3
    assert row.dup_fraction == round(row.n_dropped / row.n_docs, 6)


def test_dedup_report_job_count(spark):
    """One connected-components run per dataset card: the component
    stats and the keep-list drop set share one clusters frame. Running
    components twice (once per consumer) cost 55 jobs per call at
    sf0.01 (result collect included); one run takes 41."""
    from engine.spark.analytics import dedup_report

    sc = spark.sparkContext
    group = "dedup_report_job_count"
    sc.setJobGroup(group, group)
    try:
        row = dedup_report(spark, "/root/testdata/sf0.01").collect()[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert row.n_components > 0
    assert 0 < jobs < 55, jobs


def test_rp_lsh_params_keyspace_and_recall():
    """Random-hyperplane plan maths: the keyspace always dominates the
    corpus (≥ 2n keys up to the width cap), probes stay bounded, and
    the banded OR actually buys the target recall at the threshold
    angle — checked against the closed form 1-(1-p^r)^b."""
    import math

    from engine.spark.analytics import rp_lsh_params

    for n in (2, 500, 5_000, 10**6, 10**9, 10**12):
        r, b = rp_lsh_params(n, threshold=0.9)
        assert 6 <= r <= 42 and 1 <= b <= 32
        if r < 42:
            assert 2**r >= 2 * n
        p = 1.0 - math.acos(0.9) / math.pi
        if b < 32:  # uncapped → the recall bound must hold exactly
            assert 1.0 - (1.0 - p**r) ** b >= 0.85
    # degenerate corpora don't divide by zero or go negative
    assert rp_lsh_params(0, 0.9) == (6, 1)
    assert rp_lsh_params(1, 0.9) == (6, 1)
    # identical-vector threshold (p=1) needs exactly one probe
    assert rp_lsh_params(10**6, 1.0)[1] == 1
    # threshold <= 0 makes p^r == 0 — must cap probes, not divide by 0
    assert rp_lsh_params(10**6, -1.0)[1] == 32
    assert rp_lsh_params(10**6, 0.0)[1] >= 1


def _hash_embed_docs(spark):
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(300)]
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "alpha beta gamma alpha"),     # exact dup of 1
        (3, "totally different words here entirely"),
        (4, "   "),                        # whitespace-only
    ] + [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(10, 210)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash_embed_vectors_invariants(spark):
    """The servable (vec_id, v, w) artifact: unit-norm ``v``, identical
    text -> identical ``v`` (so near-dup cosine works on it), no row
    for a wordless doc, and ``v == round(w / |w|, 6)`` over exact
    integer counts ``w``."""
    import math

    from engine.spark.analytics import HASH_EMBED_DIM, hash_embed_vectors

    docs = _hash_embed_docs(spark)
    art = {r.vec_id: (list(r.v), list(r.w)) for r in hash_embed_vectors(docs).collect()}
    assert 4 not in art and {1, 2, 3} <= set(art)
    assert art[1] == art[2]
    assert art[1][0] != art[3][0]
    for v, w in art.values():
        assert len(v) == len(w) == HASH_EMBED_DIM
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
        assert all(isinstance(x, int) for x in w)
        nrm = math.sqrt(float(sum(x * x for x in w)))
        assert v == [round(x / nrm, 6) for x in w]


def test_hash_embed_vectors_parity_with_oracle(spark, tmp_path):
    """The nonzero ``v`` entries of the artifact are exactly the
    DuckDB-oracled hash_embed entry's (doc_id, pos, value) rows on the
    same documents table."""
    from engine.spark.analytics import hash_embed, hash_embed_vectors

    docs = _hash_embed_docs(spark)
    path = str(tmp_path / "docs")
    docs.coalesce(1).write.parquet(f"{path}/documents.parquet")
    sparse = {
        (r.vec_id, pos, x)
        for r in hash_embed_vectors(docs).collect()
        for pos, x in enumerate(r.v)
        if x != 0.0
    }
    assert sparse
    oracled = {(r.doc_id, r.pos, r.value) for r in hash_embed(spark, path).collect()}
    assert sparse == oracled


def test_dedup_text_semantic_served_planted(spark, tmp_path):
    """The production (served) form over a persisted artifact finds the
    planted pair: exact copy ↔ cosine 1.0, word-order rewrite still
    pairs (order-insensitive), unrelated doc pairs with nothing — and
    explicit params vs adaptive params agree on this corpus."""
    import random

    from engine.spark.analytics import (
        dedup_text_semantic_served,
        hash_embed_vectors,
        rp_lsh_params,
    )

    rng = random.Random(7)
    words = [f"tok{i}" for i in range(80)]
    shuffled = list(words)
    rng.shuffle(shuffled)
    docs = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(words)),
            (3, " ".join(shuffled)),
            (4, " ".join(f"zzz{i}" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "hv")
    hash_embed_vectors(docs).write.parquet(path)
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup_text_semantic_served(spark, path, threshold=0.9).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)
    explicit = dedup_text_semantic_served(
        spark, path, threshold=0.9, params=rp_lsh_params(4, 0.9)
    ).collect()
    assert {(r.vec_a, r.vec_b): r.cosine for r in explicit} == pairs

    # the apply tail: {1,2,3} form one component (min-id 1 survives),
    # the unrelated doc 4 survives untouched
    from engine.spark.analytics import dedup_semantic_apply

    kept = {
        r.vec_id
        for r in dedup_semantic_apply(spark, path, threshold=0.9).collect()
    }
    assert kept == {1, 4}


def test_tokenizer_fertility_planted(spark, tmp_path):
    """Fertility must rise with punctuation/subword density: hyphenated
    and punctuated text produces more BPE-ish tokens per whitespace
    word than plain word soup, and the per-language grouping keys off
    the same marker argmax as lang_id."""
    import pyspark.sql.functions as F

    from engine.spark.analytics import tokenizer_fertility

    d = tmp_path / "sf"
    d.mkdir()
    rows = [
        # plain English soup: fertility exactly 1
        (1, "the cat and the dog is here to stay", "en", "s", 0),
        # punctuation-dense English: 'state-of-the-art' is 4 runs +
        # 3 hyphens = 7 bpeish tokens for 1 whitespace word
        (2, "the state-of-the-art result, truly!", "en", "s", 0),
        # marker-free -> 'und'
        (3, "zz yy xx ww vv", "und", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, bucket int"
    ).select("doc_id", "text").write.parquet(str(d / "documents.parquet"))
    out = {r.lang: r for r in tokenizer_fertility(spark, str(d)).collect()}
    assert set(out) == {"en", "und"}
    assert out["und"].fertility == 1.0
    assert out["en"].fertility > 1.0  # punctuation raises the ratio
    en = out["en"]
    assert en.bpeish_tokens > en.ws_tokens
    assert en.est_fertility > 0


def test_quality_train_recovers_planted_rule(spark, tmp_path):
    """Closed-form ridge training must (a) recover a linearly-separable
    planted rule (docs containing 'alphaword' are good) with high
    accuracy, and (b) be DETERMINISTIC: the exact-integer Gram makes
    two training runs bit-identical, so the served-weights artifact is
    reproducible (the property the oracle contract rests on)."""
    from engine.spark.analytics import (
        hash_embed_vectors,
        quality_score_served,
        quality_train,
    )

    rows = []
    for i in range(200):
        good = i % 2 == 0
        filler = f"tok{i % 7} tok{i % 11} tok{i % 13} common words here"
        rows.append((i, ("alphaword " + filler) if good else filler, good))
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(i, int(g)) for i, _, g in rows], "vec_id long, label int"
    )
    vecs = hash_embed_vectors(docs)
    w1 = quality_train(vecs, labels)
    w2 = quality_train(vecs, labels)
    assert w1 == w2  # bit-identical: exact-integer normal equations
    vp, wp = str(tmp_path / "hv"), str(tmp_path / "qw")
    vecs.write.parquet(vp)
    spark.createDataFrame([(w1,)], "wvec array<double>").write.parquet(wp)
    scored = quality_score_served(spark, vp, wp)
    truth = {i: g for i, _, g in rows}
    hits = sum(
        1 for r in scored.collect() if r.pred_keep == truth[r.vec_id]
    )
    assert hits / 200 >= 0.95


def test_quality_classifier_entry_beats_baseline(spark):
    """The distilled classifier must actually track the c4 gate it was
    trained on — accuracy on the sf0.01 corpus clearly above the
    majority-class baseline (non-vacuity: the entry isn't a constant
    predictor)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as em
    from engine.spark.analytics import c4_clean

    sdf = em.queries()["quality_classifier"](spark, "/root/testdata/sf0.01")
    labels = c4_clean(spark, "/root/testdata/sf0.01").select(
        F.col("doc_id").alias("vec_id"), "keep_doc"
    )
    j = sdf.join(labels, "vec_id")
    n = j.count()
    acc = j.filter(F.col("pred_keep") == F.col("keep_doc")).count() / n
    n_all = labels.count()
    base = (
        max(
            labels.filter("keep_doc").count(),
            labels.filter("not keep_doc").count(),
        )
        / n_all
    )
    assert n == 500
    assert acc >= base + 0.1, (acc, base)
    # both classes predicted (not a constant scorer)
    kept = sdf.filter("pred_keep").count()
    assert 0 < kept < n


