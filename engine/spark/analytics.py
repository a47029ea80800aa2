"""Training-data pipeline operators over documents/embeddings tables:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
and hash-embed cosine), similarity search (brute-force cosine, k-means
centroid IVF, int8), and text analysis (language-ID heuristic, quality
scoring, token counting, fingerprint).

Design notes (100 TB path):
- Everything here is native Catalyst expressions — no Python UDFs.
- Exact dedup: one hash-groupBy shuffle on md5(text).
- MinHash: shingle explode → 32-way min-agg (one shuffle, map-side
  partial agg) → band explode → bucket groupBy; candidate pairs only
  ever materialize within a bucket, never the cross product.
- Near-dup bucket self-joins (MinHash bands, SimHash blocks, embedding
  sign buckets) go through _bucketed_pairs and
  its hub-star skew guard. rp_pair_sims stays all-pairs on purpose: its
  output is the pair list, and a star guard there measured dropping 44
  of 199 verified pairs at sf0.01 and 12,715 of 18,968 at sf0.1.
- Brute-force ANN broadcasts the (small) query side so the big side
  never shuffles; the IVF variant prunes by centroid-cell equality join.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from engine.spark.pipeline import _t7_tokens

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

MINHASH_K = 32
LSH_BANDS = 8  # 8 bands x 4 rows
NGRAM_N = 3
SIMHASH_BITS = 60  # portable-hash width (15 hex chars of md5)
LSH_MAX_BUCKET_DOCS = 64  # band-bucket skew guard (see dedup_minhash_lsh)


def _phash60(col) -> "F.Column":
    """Engine-portable 60-bit hash: first 15 hex chars of md5 → int64.
    DuckDB computes the bit-identical value as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the hash both engines
    share so LSH banding/verification is fully oracle-checkable
    (xxhash64 has no DuckDB twin)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _phash32_pair(col) -> tuple["F.Column", "F.Column"]:
    """Two independent 32-bit portable hashes from one md5 (hex chars
    1-8 and 9-16) — the double-hashing base (Kirsch–Mitzenmacher):
    h_k = a + k*(2b+1) gives K seeded hashes from ONE md5 per shingle
    instead of K, with no int64 overflow (max < 2^39, safe under ANSI
    mode). DuckDB twin: ``('0x'||substr(md5(x),1,8))::BIGINT`` etc."""
    m = F.md5(col)
    a = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return a, b


def _docs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- dedup

def dedup_exact(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact dedup groups: content hash → count + representative id."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
    )


def _words(text) -> "F.Column":
    """The corpus word tokenizer: lower-case, collapse every whitespace
    run to one space, split on the space. Every word-level operator
    (shingles, n-grams, word counts, vocabularies) and its DuckDB twin
    tokenize this way."""
    return F.split(F.regexp_replace(F.lower(text), r"\s+", " "), " ")


def _word_ngrams(words, n: int) -> "F.Column":
    """Word ``n``-grams of a token-array column, space-joined, in text
    order; an array shorter than ``n`` words yields an empty array.
    Pass a column reference, not an inline expression: ``words`` is
    read n + 2 times."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngrams(docs: "DataFrame", n: int) -> "DataFrame":
    """(doc_id, gram): one row per word n-gram occurrence; docs shorter
    than n words emit none. Not deduplicated: the exploded table is
    the largest intermediate of the dedup chain, so consumers whose
    aggregate ignores duplicates (MinHash: a min over hashes) skip
    that shuffle, and set-semantics consumers (Jaccard counts, SimHash
    bit votes) add ``.distinct()``."""
    return docs.select("doc_id", _words("text").alias("w")).select(
        "doc_id", F.explode(_word_ngrams(F.col("w"), n)).alias("gram")
    )


def _bucketed_pairs(
    b: "DataFrame", payload: str, max_bucket_docs: int = LSH_MAX_BUCKET_DOCS
) -> "DataFrame":
    """Self-join within ``bucket`` with an oversized-bucket guard — the
    LSH/SimHash skew defense. Boilerplate-heavy corpora put thousands of
    near-identical docs in ONE bucket; a naive bucket self-join is then
    O(bucket²) pairs and a single reducer owns all of them (AQE can
    split the shuffle partition, but not the quadratic pair count
    itself). Buckets with ≤ ``max_bucket_docs`` members pair all-pairs;
    larger buckets emit only a STAR around the bucket's min doc id —
    O(bucket) pairs that preserve the connectivity the downstream
    connected-components stage needs (every member links to the hub, so
    the cluster is identical whenever members truly match the hub —
    exactly the boilerplate case that creates oversized buckets).
    Returns (doc_a, doc_b, pa, pb) with doc_a < doc_b and the payload
    column from each side."""
    w = Window.partitionBy("bucket")
    sized = (
        b.select("doc_id", "bucket", payload)
        .withColumn("bsize", F.count("*").over(w))
        .withColumn("hub", F.min("doc_id").over(w))
    )
    small = sized.filter(F.col("bsize") <= max_bucket_docs).select(
        "doc_id", "bucket", payload
    )
    x, y = small.alias("x"), small.alias("y")
    psmall = x.join(
        y, (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.col(f"x.{payload}").alias("pa"),
        F.col(f"y.{payload}").alias("pb"),
    )
    big = sized.filter(F.col("bsize") > max_bucket_docs)
    hubs = big.filter(F.col("doc_id") == F.col("hub")).select(
        "bucket", F.col("doc_id").alias("doc_a"), F.col(payload).alias("pa")
    )
    members = big.filter(F.col("doc_id") != F.col("hub")).select(
        "bucket", F.col("doc_id").alias("doc_b"), F.col(payload).alias("pb")
    )
    pbig = members.join(hubs, "bucket").select("doc_a", "doc_b", "pa", "pb")
    return psmall.unionByName(pbig)


def _minhash_bands(docs: "DataFrame") -> "DataFrame":
    """(doc_id, sig, bucket) — MinHash(32) signatures banded 8×4.

    Portable double-hashing: ONE md5 per shingle yields two 32-bit
    halves (a, b); seed k's hash is a + k*(2b+1) (Kirsch–Mitzenmacher),
    so DuckDB computes bit-identical signatures (no xxhash64 twin
    exists) and the whole LSH chain is oracle-checkable. The band
    fingerprint hashes (band_id, its signature slice) rendered as a
    string — same md5 path, same value in both engines. The sig array
    rides along so the pair stage needs NO join back to sig.
    Shingles are NOT deduplicated: min() is duplicate-insensitive and
    skipping the distinct removes the dedup pipeline's biggest shuffle
    (the exploded shingle table); map-side partial min-agg absorbs the
    duplicates instead."""
    sh = _ngrams(docs, NGRAM_N)
    a, b = _phash32_pair(F.col("gram"))
    hashed = sh.select("doc_id", a.alias("ha"), (b * 2 + 1).alias("hb"))
    sig = hashed.groupBy("doc_id").agg(
        F.array(
            *[F.min(F.col("ha") + seed * F.col("hb")) for seed in range(MINHASH_K)]
        ).alias("sig")
    )
    rows_per_band = MINHASH_K // LSH_BANDS
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    _phash60(
                        F.concat(
                            F.lit(f"{band}:"),
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice("sig", band * rows_per_band + 1, rows_per_band),
                                    lambda v: v.cast("string"),
                                ),
                            ),
                        )
                    )
                    for band in range(LSH_BANDS)
                ]
            )
        ).alias("bucket"),
    )


def dedup_minhash_lsh(
    spark: "SparkSession", sf_dir: str, jaccard_threshold: float = 0.5
) -> "DataFrame":
    """MinHash(32) + LSH(8 bands x 4) candidate pairs, LSH-bucket join
    only (no cross product), verified by estimated signature agreement.
    Oversized band buckets (boilerplate skew) emit hub-star pairs
    instead of all-pairs (_bucketed_pairs). Fully DuckDB-oracled via
    the portable md5 double-hash (_minhash_bands)."""
    return _est_pairs_from_bands(
        _minhash_bands(_docs(spark, sf_dir)), jaccard_threshold
    )


def _est_jaccard(pa, pb) -> "F.Column":
    """Signature-agreement Jaccard estimate: fraction of the MINHASH_K
    signature slots two docs agree on (the standard MinHash estimator)."""
    return F.round(
        F.size(F.filter(F.zip_with(pa, pb, lambda x, y: x == y), lambda v: v))
        / MINHASH_K,
        6,
    )


def _est_pairs_from_bands(
    bands: "DataFrame", jaccard_threshold: float
) -> "DataFrame":
    """(doc_a, doc_b, est_jaccard) for band-colliding pairs of a
    _minhash_bands table whose signature estimate clears the
    threshold (0.0 keeps every candidate)."""
    pairs = _bucketed_pairs(bands, "sig")
    est = (
        pairs.select(
            "doc_a", "doc_b", _est_jaccard("pa", "pb").alias("est_jaccard")
        )
        # a pair can collide in several bands → keep one row
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )
    return est.filter(F.col("est_jaccard") >= jaccard_threshold)


def adaptive_simhash_band_bits(n_docs: int, lo: int = 10, hi: int = 20) -> int:
    """Band width that scales the per-band bucket keyspace with the
    corpus (≥ 2n keys per band, same contract as adaptive_sign_dims),
    clamped to [10, 20]. Wider bands at scale mean fewer bands
    (floor(60/bits)) and a weaker pigeonhole guarantee — the classic
    SimHash trade (Manku et al., WWW'07 run 8B docs with comparable
    block sizes at hamming ≤ 3); the _bucketed_pairs hub-star guard
    bounds whatever skew remains."""
    import math

    want = math.ceil(math.log2(max(n_docs, 2))) + 1
    return min(max(want, lo), hi)


def _hamming_pairs(
    hashes: "DataFrame", h: str, band_bits: int, n_bands: int, max_hamming: int
) -> "DataFrame":
    """Banded-LSH near-duplicate pairs over a (doc_id, ``h``) table of
    integer hashes: ``h`` is cut into ``n_bands`` disjoint
    ``band_bits``-wide blocks (low bits first), a pair is a candidate
    when ANY block matches exactly (pigeonhole: hamming ≤ n_bands − 1
    always collides somewhere), and the full popcount(xor) verifies
    every candidate — zero false positives. Bucket key = band index in
    the high bits, the band's slice low, so all bands share one
    explode and one _bucketed_pairs self-join (oversized buckets pair
    as a hub star). Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    mask = (1 << band_bits) - 1
    banded = hashes.select(
        "doc_id",
        h,
        F.explode(
            F.array(
                *[
                    (
                        F.lit(b << band_bits)
                        + F.shiftrightunsigned(h, b * band_bits).bitwiseAND(
                            F.lit(mask)
                        )
                    ).cast("long")
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    pairs = (
        _bucketed_pairs(banded, h)
        # a pair can collide in several bands -> keep one row
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def dedup_simhash(
    spark: "SparkSession",
    sf_dir: str,
    max_hamming: int = 6,
    band_bits: int | None = None,
) -> "DataFrame":
    """60-bit SimHash near-dup pairs, multi-band bucketed: the hash is
    split into floor(60/band_bits) disjoint bit-blocks and a pair is a
    candidate when ANY block matches exactly (_hamming_pairs; higher
    distances than the pigeonhole bound collide with the s-curve
    probability). band_bits=None derives the width from the corpus size
    (adaptive_simhash_band_bits: ≥ 2n keys per band); the oracled
    entry pins band_bits=10 (6 bands, guarantee ≤ 5). Oversized
    buckets emit hub-star pairs (_bucketed_pairs skew guard).

    Bit-vote is fused into one higher-order expression over the per-doc
    hash array (collect_list -> transform/aggregate SQL lambdas): one
    shuffle, no 60x row amplification; per-doc array size = n shingles,
    bounded by the reference's 10 MB payload cap. The per-shingle hash
    is the portable 60-bit md5 prefix (_phash60) so DuckDB computes
    bit-identical simhashes and the operator is fully oracled."""
    docs = _docs(spark, sf_dir)
    if band_bits is None:
        band_bits = adaptive_simhash_band_bits(docs.count())
    n_bands = max(1, SIMHASH_BITS // band_bits)
    sh = _ngrams(docs, NGRAM_N).distinct().withColumn("h", _phash60(F.col("gram")))
    hs = sh.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))
    simhash = hs.select(
        "doc_id",
        F.expr(f"""
          aggregate(
            zip_with(
              transform(sequence(0, {SIMHASH_BITS - 1}), bit ->
                aggregate(hs, 0L, (a, h) ->
                  a + IF((shiftrightunsigned(h, bit) & 1) = 1, 1, -1))),
              sequence(0, {SIMHASH_BITS - 1}),
              (s, bit) -> IF(s > 0, shiftleft(1L, bit), 0L)),
            0L, (a, x) -> a + x)
        """).alias("simhash"),
    )
    return _hamming_pairs(simhash, "simhash", band_bits, n_bands, max_hamming)


def dedup_ngram_jaccard(
    spark: "SparkSession", sf_dir: str, max_doc_id: int = 200, min_jaccard: float = 0.1
) -> "DataFrame":
    """Exact word-3-gram Jaccard over a bounded id range (the verify
    stage of dedup; SQL-expressible → DuckDB oracle). The id bound
    covers the testdata's planted near-dup pairs (jaccard ≥ 0.95 at
    sf0.01) so the oracle checks real positives, not an empty set."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < max_doc_id)
    sh = _ngrams(docs, NGRAM_N).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def lsh_verified_pairs(
    spark: "SparkSession", sf_dir: str, min_jaccard: float = 0.5
) -> "DataFrame":
    """The production pair source: LSH band-collision candidates
    verified with EXACT n-gram Jaccard computed ONLY on those pairs —
    never all-pairs (dedup_ngram_jaccard's bounded-id all-pairs join is
    the oracle-friendly verify stage, not a scale path). Intersections
    come from joining the candidate pairs back to the shingle sets:
    pair ⋈ shingles(doc_a) on doc_a, then ⋈ shingles on (doc_b,
    shingle) — work is proportional to candidate-pair shingles, not to
    corpus². Every band collision is a candidate (no signature-estimate
    pre-filter: max recall)."""
    return _lsh_verified_pairs_docs(_docs(spark, sf_dir), min_jaccard)


def _lsh_verified_pairs_docs(
    docs: "DataFrame", min_jaccard: float = 0.5
) -> "DataFrame":
    cands = _est_pairs_from_bands(_minhash_bands(docs), 0.0).select(
        "doc_a", "doc_b"
    )
    return _verify_pairs(cands, docs, min_jaccard)


def _verify_pairs(
    cands: "DataFrame", docs: "DataFrame", min_jaccard: float
) -> "DataFrame":
    """Exact n-gram Jaccard computed ONLY on the given candidate pairs
    (the verify tail shared by lsh_verified_pairs and
    dedup_incremental): pair ⋈ shingles(doc_a), then ⋈ shingles on
    (doc_b, shingle) — work ∝ candidate-pair shingles, never corpus²."""
    sh = _ngrams(docs, NGRAM_N).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = cands.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
    inter = (
        a_sh.join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def dedup_clusters(
    pairs: "DataFrame",
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> "DataFrame":
    """Connected components over near-duplicate PAIRS → cluster ids:
    the step that turns any of the pair-producing dedup operators into
    an actual keep/drop decision (cluster id = min doc id in the
    component; keeper = the id itself). Every id that appears in
    ``pairs`` appears once in the output, including an id whose only
    pair is a self-pair.

    Min-label propagation with pointer jumping. Edges carry a self-loop
    per node, so one join + groupBy gives each node the minimum label
    of its closed neighbourhood; one self-join then jumps every node to
    its label's label, ``label[v] ← min(label[v], label[label[v]])``,
    so a chain-shaped component needs far fewer rounds than its
    diameter (a 50-deep chain converges in 6 rounds, not 51; seeded
    200-node random graphs take 6-14). Each round is one
    localCheckpoint that cuts the lineage; the number of changed labels
    is observed on the rows that checkpoint writes, so the fixpoint
    test adds no Spark job. Ids may be of any orderable type. Never
    returns partially-propagated labels: a component that has not
    converged in ``max_iterations`` rounds raises."""

    # both directions plus a self-loop per endpoint, from ONE pass over
    # ``pairs`` (an unmaterialized pair plan must not run once per edge
    # orientation)
    u, v = F.col(src), F.col(dst)
    edges = (
        pairs.select(
            F.explode(
                F.array(*(
                    F.struct(x.alias("a"), y.alias("b"))
                    for x, y in ((u, v), (v, u), (u, u), (v, v))
                ))
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .localCheckpoint()
    )
    labels = edges.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.col("b").alias("label")
    )
    for _ in range(max_iterations):
        hop = (
            edges.join(labels, edges.b == labels.node)
            # the filter the jump's lookup side infers on its join key
            .filter(F.col("a").isNotNull())
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("a") == F.col("b"), F.col("label"))).alias("old"),
            )
        )
        # least(label, old) == label (the neighbourhood holds the node
        # itself); reading both columns, like the filter above, keeps
        # the lookup side the same plan as ``hop``, so the two share
        # one aggregate shuffle instead of running it twice
        far = hop.select(
            F.col("node").alias("label"), F.least("label", "old").alias("far")
        )
        obs = Observation()
        labels = (
            hop.join(far, "label")
            .select("node", F.least("label", "far").alias("label"), "old")
            .observe(obs, F.count_if(F.col("label") != F.col("old")).alias("n"))
            .select("node", "label")
            .localCheckpoint()
        )
        changed = obs.get["n"]
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds "
            f"({changed} labels still changing); raise max_iterations"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def dedup_cluster_assign(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cluster assignment over the (fully SQL-expressible) n-gram
    Jaccard pairs, so the whole chain pairs → components → keepers has
    a DuckDB oracle (recursive-CTE transitive closure)."""
    return dedup_clusters(dedup_ngram_jaccard(spark, sf_dir))


def _exact_drops(corpus: "DataFrame") -> "DataFrame":
    """doc_ids of exact-content duplicates: every id of an md5(text)
    group but the group minimum."""
    return (
        corpus.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.collect_list("doc_id").alias("ids"))
        .select(F.explode("ids").alias("doc_id"), "keep_id")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )


def _near_drops(pairs: "DataFrame") -> "DataFrame":
    """doc_ids of near-duplicates: every id of a connected component
    over ``pairs`` (doc_a, doc_b) but the component's keeper."""
    return dedup_clusters(pairs).filter(~F.col("is_keeper")).select("doc_id")


def _keep_list(corpus: "DataFrame", near_drop: "DataFrame") -> "DataFrame":
    """Shared tail of the dedup pipeline: the surviving doc ids of
    ``corpus`` once exact-group non-keepers (_exact_drops) and the
    given near-dup drops are removed — one anti-join against their
    union, so a doc that is both is dropped once. At scale this is the
    keep-list write that every downstream training job reads."""
    drop = _exact_drops(corpus).unionByName(near_drop).distinct()
    return corpus.select("doc_id").join(drop, "doc_id", "left_anti")


def dedup_apply(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Surviving corpus after exact + near-dup drops, with the
    SQL-expressible bounded-id jaccard pair source (oracle path; see
    dedup_apply_lsh for the production pair source)."""
    return _keep_list(
        _docs(spark, sf_dir), _near_drops(dedup_ngram_jaccard(spark, sf_dir))
    )


def dedup_keep_best(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Quality-aware dedup survivor selection: each near-dup cluster
    keeps its LONGEST member (ties → min doc_id) instead of the min-id
    member — the "canonical representative" policy production corpora
    use when duplicates differ by truncation or stripped boilerplate
    (the longest copy is usually the un-clipped original; the mirrors
    are its prefixes). Exact-content groups still keep the min id:
    identical text ⇒ identical length ⇒ the tie-break IS min id, so
    the two rules can never crown conflicting keepers (a cluster-best
    doc is never exact-dropped — its lower-id identical twin would
    have out-ranked it inside the cluster first).

    Same SQL-expressible pair source as dedup_apply (bounded-id n-gram
    Jaccard) so the recursive-closure DuckDB twin verifies WHICH member
    survives, not just how many. Emits (doc_id, kept_over): kept_over =
    near-dup cluster-mates this survivor displaced (0 for docs without
    near-dups; exact-only twins are dropped but not counted — they
    carried no independent text to displace).

    Scale shape: identical to dedup_apply plus one length projection
    and one ≤cluster-count aggregate — the corpus is scanned once for
    lengths (a column already in flight for the quality gate), and the
    argmax shuffle carries (cluster_id, length, id) triples only for
    clustered docs, a vanishing fraction of a 100 TB corpus."""
    docs = _docs(spark, sf_dir)
    clusters = dedup_clusters(dedup_ngram_jaccard(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )
    members = clusters.join(
        docs.select("doc_id", F.length("text").alias("tlen")), "doc_id"
    )
    # localCheckpoint: `best` feeds BOTH the near-drop anti-join and the
    # final kept_over join — without it the argmax subtree (members join
    # + aggregate) executes twice (plan-verified; the dedup_incremental/
    # source_keywords/hash_embed compute-once lesson applied at design
    # time). Bounded: one row per near-dup cluster.
    best = (
        members.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("tlen"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("m"),
            F.count("*").alias("csz"),
        )
        .select(
            (-F.col("m.neg_id")).alias("doc_id"),
            (F.col("csz") - F.lit(1)).cast("long").alias("kept_over"),
        )
        .localCheckpoint()
    )
    near_drop = members.join(
        best.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    return (
        _keep_list(docs, near_drop)
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_over", F.lit(0).cast("long")).alias("kept_over"),
        )
    )


def token_budget_select(
    spark: "SparkSession", sf_dir: str, budget: int = 20_000
) -> "DataFrame":
    """Quality-ranked corpus selection under a global token budget —
    "take the best documents until B tokens" (the pretraining-mix
    sizing step) WITHOUT the global sort the naive plan needs. The
    selection rule is exact and total-order deterministic: docs ranked
    by (score DESC, doc_id ASC), keep the maximal prefix whose running
    est_tokens sum stays ≤ budget (est ≥ 1 ⇒ the kept set IS a
    prefix). Score = distinct-word count (vocabulary richness): an
    integer both engines compute identically — no FP ordering hazard.

    Scale shape (the point of the operator): a naive running-sum
    window is a TOTAL ORDERING of 10^11 docs on one task. Here:
    pass 1 aggregates a per-score histogram (shuffle rows = distinct
    score values, ≤ max words/doc — thousands, not corpus-sized); the
    cutoff score s* and the boundary group's remaining budget R are
    computed driver-side from that tiny table (bounded collect, the
    BPE-merge-table class); pass 2 re-scans the pruned projection and
    keeps score > s* with a plain filter. Only the boundary score
    group (score == s*) needs a running sum, and with an integer
    score that group is NOT guaranteed small (the synthetic corpus
    puts 270 docs in it at sf0.1; a coarse score at 100 TB could put
    10^9 there), so it runs as a DISTRIBUTED prefix-sum — range-
    partition by doc_id, per-partition running sums, per-partition
    totals collected (#partitions rows) and turned into broadcast
    offsets — the ordered_export pattern, no single-task window
    anywhere. Emits survivors (doc_id, score, est_tokens)."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        _t7_tokens("text").cast("long").alias("est_tokens"),
        F.size(F.array_distinct(_words("text"))).cast("long").alias("score"),
    )
    hist = sorted(
        scored.groupBy("score").agg(F.sum("est_tokens").alias("grp_est")).collect(),
        key=lambda r: -r.score,
    )
    acc = 0
    s_star, remaining = None, 0
    for row in hist:
        if acc + row.grp_est <= budget:
            acc += row.grp_est
        else:
            s_star, remaining = row.score, budget - acc
            break
    if s_star is None:
        return scored  # whole corpus fits the budget
    full = scored.filter(F.col("score") > F.lit(s_star))
    # distributed prefix-sum over the boundary group: partition i's
    # doc_ids all sort before partition i+1's (range partitioning), so
    # global cum = per-partition running sum + the sum of all earlier
    # partitions' totals. localCheckpoint pins ONE materialization so
    # the pid seen by the totals collect and by the final join is the
    # same row-to-partition assignment.
    nparts = max(2, spark.sparkContext.defaultParallelism)
    b = (
        scored.filter(F.col("score") == F.lit(s_star))
        .repartitionByRange(nparts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = {
        r.pid: r.t
        for r in b.groupBy("pid").agg(F.sum("est_tokens").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    boundary = (
        b.join(F.broadcast(off_df), "pid")
        .withColumn("cum", F.col("off") + F.sum("est_tokens").over(w))
        .filter(F.col("cum") <= F.lit(remaining))
        .select("doc_id", "est_tokens", "score")
    )
    return full.unionByName(boundary)


def dedup_apply_lsh(
    spark: "SparkSession", sf_dir: str, min_jaccard: float = 0.5
) -> "DataFrame":
    """THE production dedup composition a 100 TB corpus runs first:
    MinHash+LSH band-collision candidates → exact n-gram Jaccard
    verified ONLY on those candidate pairs (lsh_verified_pairs; never
    all-pairs) → connected components (dedup_clusters) → anti-join of
    exact-group and component non-keepers. One call, corpus in →
    deduplicated keep-list out. Every stage is a bucket-local or
    key-local shuffle; nothing is quadratic in the corpus
    (_bucketed_pairs hub-star guard bounds even pathological
    boilerplate buckets). Fully DuckDB-oracled via the portable md5
    hashes."""
    pairs = lsh_verified_pairs(spark, sf_dir, min_jaccard=min_jaccard)
    return _keep_list(_docs(spark, sf_dir), _near_drops(pairs))


# ---------------------------------------------------- incremental dedup

def build_dedup_state(docs: "DataFrame", state_dir: str) -> None:
    """Persist a corpus' dedup STATE: exact content hashes + MinHash
    signatures/band buckets of every document. The state is ~100
    bytes/doc vs the corpus' kilobytes — the artifact an ongoing
    ingestion pipeline keeps between batches so each new crawl shard
    dedups against the full history WITHOUT ever re-reading old text
    (at 100 TB, re-shingling the historical corpus per batch is the
    cost this design removes; only the new batch is ever processed)."""
    docs.select("doc_id", F.md5("text").alias("content_hash")).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/exact")
    _minhash_bands(docs).write.mode("overwrite").parquet(f"{state_dir}/bands")


def update_dedup_state(
    docs: "DataFrame", survivors: "DataFrame", state_dir: str
) -> None:
    """Append a processed batch's SURVIVING docs to the persisted
    state, so the next batch dedups against history + this batch."""
    kept = docs.join(survivors.select("doc_id"), "doc_id")
    kept.select("doc_id", F.md5("text").alias("content_hash")).write.mode(
        "append"
    ).parquet(f"{state_dir}/exact")
    _minhash_bands(kept).write.mode("append").parquet(f"{state_dir}/bands")


def dedup_incremental_batch(
    new_docs: "DataFrame",
    state_exact: "DataFrame",
    state_bands: "DataFrame",
    min_jaccard: float = 0.5,
) -> "DataFrame":
    """Surviving doc ids of a NEW batch deduped against a persisted
    corpus state AND within itself — the operation an ongoing training
    pipeline runs per ingested shard. Three stages, none of which
    touches old corpus text:

    1. exact: drop new docs whose content hash exists in the state;
       within the batch keep the min doc id per hash (one hash-keyed
       shuffle join against the state's hash table).
    2. near-dup vs history: the new docs' MinHash band buckets join
       the state's band table; colliding (new, old) pairs whose
       signature-estimate Jaccard ≥ 0.5 drop the new
       doc. Estimate-only by design: the state carries signatures,
       not text, so history-side verification would need the old
       corpus — the standard at-scale trade (the estimator's error at
       K=32 is ~1/√32 ≈ 0.18, and near-dup thresholds sit far from
       the planted-dup scores).
    3. near-dup within batch: band-collision candidates among the
       remaining new docs, verified with EXACT n-gram Jaccard on
       those pairs only, → connected components → keep component min
       (same verified path as dedup_apply_lsh).

    Band/signature work is computed ONCE over the exact-surviving
    batch and reused by stages 2 and 3 — enforced with batch-sized
    localCheckpoints: s1/bands/s2 each have 2-3 downstream consumers,
    and without materialization Spark re-executes the whole
    shingle→minhash subtree per consumer (measured 12.1 s → the
    checkpointed form below; the materialized tables are BATCH-sized,
    the thing this operator is designed to keep small)."""
    hashed = new_docs.select(
        "doc_id", "text", F.md5("text").alias("content_hash")
    )
    not_old = hashed.join(
        state_exact.select("content_hash").distinct(), "content_hash", "left_anti"
    )
    keep_ids = not_old.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    s1 = (
        not_old.join(keep_ids.select("doc_id"), "doc_id")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    bands = _minhash_bands(s1).localCheckpoint()
    hits_old = (
        bands.alias("n")
        .join(state_bands.alias("o"), "bucket")
        .filter(
            _est_jaccard(F.col("n.sig"), F.col("o.sig")) >= 0.5
        )
        .select(F.col("n.doc_id").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(hits_old, "doc_id", "left_anti").localCheckpoint()
    bands2 = bands.join(s2.select("doc_id"), "doc_id")
    cands = _est_pairs_from_bands(bands2, 0.0).select("doc_a", "doc_b")
    near = _near_drops(_verify_pairs(cands, s2, min_jaccard))
    return s2.select("doc_id").join(near, "doc_id", "left_anti")


def dedup_incremental(
    spark: "SparkSession", sf_dir: str, min_jaccard: float = 0.5
) -> "DataFrame":
    """Driver-query form of dedup_incremental_batch: even doc ids play
    the already-ingested corpus (state computed in-plan — identical
    values to a persisted state, parity-tested against the parquet
    round-trip in tests), odd ids the newly-arrived batch. Fully
    DuckDB-oracled via the portable md5 hashes."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_incremental_batch(
        new,
        old.select(F.md5("text").alias("content_hash")),
        _minhash_bands(old),
        min_jaccard=min_jaccard,
    )


# -------------------------------------------------------- decontamination

def decontaminate_batch(
    corpus: "DataFrame",
    eval_docs: "DataFrame",
    n: int = 13,
) -> "DataFrame":
    """Training-corpus DECONTAMINATION — drop every training document
    sharing any word ``n``-gram with a held-out evaluation set (the
    13-gram overlap rule used by the GPT-3/PaLM training pipelines to
    keep benchmark text out of the training mix). Returns the
    surviving corpus doc ids.

    Scale shape: eval sets are tiny (thousands of docs) next to a
    100 TB corpus, so their distinct n-gram set BROADCASTS and the
    corpus side is a map-side broadcast join over its exploded
    n-grams — the corpus is scanned once and never shuffled (verified
    in the physical plan: both corpus-sized inputs sit under
    BroadcastHashJoins with BuildRight = the eval side). The only
    exchanges are over the contaminated-id set (distinct + anti-join
    build), which is bounded by the number of HITS, not corpus size;
    if hits ever outgrew the broadcast threshold AQE falls back to a
    shuffled anti-join on doc_id alone. Docs shorter than n words
    carry no n-grams and always survive (both engines agree by
    construction)."""
    ev_grams = _ngrams(eval_docs, n).select("gram").distinct()
    hits = (
        _ngrams(corpus, n)
        .join(F.broadcast(ev_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left_anti")


def decontaminate(
    spark: "SparkSession", sf_dir: str, n: int = 13, eval_mod: int = 5
) -> "DataFrame":
    """Driver-query form of decontaminate_batch: doc ids divisible by
    ``eval_mod`` play the held-out benchmark set, the rest the training
    corpus (the modulus puts several planted near-dup partners across
    the split, so contamination is non-vacuous at sf0.01). Fully
    DuckDB-oracled."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % eval_mod == 0)
    corpus = docs.filter(F.col("doc_id") % eval_mod != 0)
    return decontaminate_batch(corpus, ev, n)


# ----------------------------------------------------------- PII scrub

# Kept to the regex subset Java (Spark) and RE2 (DuckDB) treat
# identically: no lookaround, no backrefs, \d = [0-9] in both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{2}-\d{3}-\d{3}-\d{4}"


def pii_scrub_batch(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """PII redaction — the scrub pass a training pipeline runs before
    any text leaves the ingest zone: count + replace emails and
    TPC-H-format phone numbers with typed placeholders. Emails are
    replaced first so the phone pass never sees their digit runs; both
    passes are plain regexp_replace, so the op is map-only with zero
    shuffles and the scan reads only (id, text)."""
    t = F.col(text_col)
    return df.select(
        id_col,
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("scrubbed"),
    )


def pii_scrub(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Driver-query form of pii_scrub_batch over a deterministic
    PII-bearing blob synthesized from the customer table (the synthetic
    documents carry no PII): email from c_name, phone digits from pure
    c_custkey modular arithmetic — both engines rebuild the identical
    blob, so the scrub itself is what the oracle checks. Keys divisible
    by 3 get no email and by 4 no phone, making the zero-count path
    non-vacuous."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    email = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com"),
    )
    phone = F.concat_ws(
        "-",
        (k % 90 + 10).cast("string"),
        ((k * 7) % 900 + 100).cast("string"),
        ((k * 13) % 900 + 100).cast("string"),
        ((k * 31) % 9000 + 1000).cast("string"),
    )
    blob = cust.select(
        "c_custkey",
        F.concat_ws(
            " ",
            F.col("c_name"),
            F.lit("segment"),
            F.col("c_mktsegment"),
            F.lit("email:"),
            F.when(k % 3 == 0, F.lit("none")).otherwise(email),
            F.lit("phone:"),
            F.when(k % 4 == 0, F.lit("unlisted")).otherwise(phone),
        ).alias("text"),
    )
    return pii_scrub_batch(blob, id_col="c_custkey")


# ------------------------------------------------------- similarity search

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def _cosine(a, b):
    """Cosine of two UNIT vectors (see _vecs): just the dot product.
    Vectors are normalized ONCE per row at scan time instead of
    recomputing both norms inside every candidate pair — 3× less
    per-pair arithmetic in the bucket self-joins, which is where the
    100 TB cost lives. A zero-norm vector (failed-embedding sentinel)
    normalizes to all-null (try_divide), so its cosine is null and
    every threshold/top-k consumer drops it — same contract as
    before."""
    return _dot(a, b)


def _vecs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    raw = _embs(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("u")
    )
    norm = F.sqrt(F.aggregate("u", F.lit(0.0), lambda s, v: s + v * v))
    return raw.select(
        "vec_id",
        F.transform("u", lambda x: F.try_divide(x, norm)).alias("v"),
    )


def adaptive_sign_dims(
    n_vectors: int, dim: int = 64, probes: int = 2, min_dims: int = 6
) -> int:
    """Sign-bucket width that scales shuffle-key cardinality with the
    corpus: ceil(log2 n)+1 bits ⇒ ≥ 2n bucket keys (average occupancy
    ≤ 0.5), so no bucket self-join can blow up at 100× the data — the
    round-1 hazard of a fixed 2^6 keyspace. Floored at ``min_dims`` for
    tiny corpora and capped at dim // probes so every probe gets a
    disjoint sign block. Recall trade-off: more sign bits split
    lower-cosine pairs apart faster (P[agree] ≈ (1−θ/π)^bits per
    probe); near-identical vectors (the dedup target) agree on almost
    every hyperplane, and the ``probes`` knob buys recall back
    linearly in candidate cost."""
    cap = max(1, dim // max(probes, 1))
    if n_vectors <= 1:
        return min(min_dims, cap)
    import math

    want = math.ceil(math.log2(n_vectors)) + 1
    return max(min(want, cap), min(min_dims, cap))


def _corpus_stats(embs: "DataFrame") -> tuple[int, int]:
    """(n_vectors, dim) in one stats pass — the AQE-style planning read
    the adaptive default needs; production jobs on known tables pass
    sign_dims explicitly or read catalog stats instead."""
    row = embs.agg(
        F.count("*").alias("n"), F.max(F.size("v")).alias("dim")
    ).first()
    return int(row.n or 0), int(row.dim or 0)


def _sign_bucket(col, offset: int, sign_dims: int):
    """Bucket id from the signs of dims [offset, offset+sign_dims).
    try_element_at: dims past the vector length contribute 0 (degraded
    bucketing) instead of INVALID_ARRAY_INDEX under ANSI mode, so
    over-raising probes*sign_dims never crashes a job."""
    return sum(
        F.when(
            F.coalesce(F.try_element_at(col, F.lit(offset + i + 1)), F.lit(0.0)) > 0,
            2**i,
        ).otherwise(0)
        for i in range(sign_dims)
    )


def simsearch_bruteforce(
    spark: "SparkSession", sf_dir: str, n_queries: int = 5, k: int = 10
) -> "DataFrame":
    """Top-k cosine neighbors for the first n_queries vectors —
    broadcast the query side; corpus side never shuffles until the
    final per-query top-k window."""
    embs = _vecs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    scored = embs.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    sims = scored.select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("q"), F.col("v")), 5).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())  # zero-norm candidates excluded
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


def _train_centroids(
    embs: "DataFrame", n_centroids: int, sample: int, iters: int
) -> list[list[float]]:
    """Deterministic k-means-lite on a driver-side sample (train on
    sample, broadcast the codebook — the standard IVF recipe; at
    100 TB the sample comes from TABLESAMPLE, the codebook is still
    tiny). Init = first n_centroids sample vectors (vec_id order, so
    reruns are identical); fixed Lloyd iterations; empty clusters keep
    their previous centroid."""
    import numpy as np

    rows = embs.orderBy("vec_id").limit(sample).collect()
    vecs = np.array([r.v for r in rows], dtype=np.float64)
    if len(vecs) < n_centroids:
        n_centroids = max(1, len(vecs))
    cents = vecs[:n_centroids].copy()
    for _ in range(iters):
        # (sample, centroids) squared distances via ||v||² − 2v·c + ||c||²
        d2 = (
            (vecs * vecs).sum(axis=1)[:, None]
            - 2.0 * vecs @ cents.T
            + (cents * cents).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for ci in range(n_centroids):
            members = vecs[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return [list(map(float, c)) for c in cents]


def _centroid_dists(centroids: list[list[float]]):
    """Array<struct<d,cid>> of squared distances from column ``v`` to
    each broadcast centroid — pure Catalyst (the centroids are plan
    literals; struct comparison orders by distance then cid, so
    array_min/array_sort give deterministic nearest-first)."""
    return F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(x) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(ci).alias("cid"),
            )
            for ci, c in enumerate(centroids)
        ]
    )


def adaptive_n_centroids(
    n_vectors: int, target_cell_rows: int = 256, lo: int = 8, hi: int = 4096
) -> int:
    """Cell count that scales with the corpus (~target_cell_rows per
    cell) so per-cell candidate scans stay bounded at any size — the
    codebook is still only n_centroids × dim floats broadcast as plan
    literals. Same handled-by-default contract as adaptive_sign_dims."""
    return max(lo, min(hi, -(-max(n_vectors, 1) // target_cell_rows)))


def train_ivf_codebook(
    spark: "SparkSession",
    sf_dir: str,
    n_centroids: int | None = None,
    sample: int = 2048,
    iters: int = 5,
) -> "DataFrame":
    """Train the k-means IVF codebook ONCE and return it as a (cid,
    centroid) DataFrame to persist (``df.write.parquet(path)``) — the
    shape a real serving job needs: repeated queries load the table
    instead of re-sampling/re-training per call
    (simsearch_ivf_centroids(codebook=...)). Deterministic, so a
    persisted codebook reproduces the in-line training exactly."""
    embs = _vecs(spark, sf_dir)
    if n_centroids is None:
        n, _dim = _corpus_stats(embs)
        n_centroids = adaptive_n_centroids(n)
    cents = _train_centroids(embs, n_centroids, sample, iters)
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cid int, centroid array<double>",
    )


def load_ivf_codebook(spark: "SparkSession", path: str) -> list[list[float]]:
    """Load a persisted codebook back into the plan-literal form the
    IVF operators consume (cid order = training order, so assignment
    tie-breaks are identical to the training run)."""
    rows = spark.read.parquet(path).orderBy("cid").collect()
    return [list(r.centroid) for r in rows]


def simsearch_ivf_centroids(
    spark: "SparkSession",
    sf_dir: str,
    n_queries: int = 20,
    k: int = 3,
    n_centroids: int | None = None,
    probes: int = 2,
    sample: int = 2048,
    iters: int = 5,
    codebook: list[list[float]] | None = None,
) -> "DataFrame":
    """Standard centroid-quantizer IVF (the scale path real vector
    stores use): k-means codebook trained on a driver-side sample,
    corpus assigned to its nearest centroid with broadcast plan-literal
    arithmetic (one map-only pass, no shuffle), queries probe their
    ``probes`` nearest cells (explode → cell-equality join — candidates
    are cell-local, never the cross product) and the cosine top-k runs
    per query.

    Deterministic end-to-end (fixed sample order, init, iterations),
    so results are reproducible. The driver entry runs the served form
    (train → persist codebook → search from the loaded table), which
    makes the data-dependent codebook shared input and the whole search
    fully DuckDB-oracled; training quality is covered by recall-vs-
    brute-force tests (≥ 0.9 on the clustered fixture) and persisted-
    codebook == in-line-training parity. n_centroids=None derives the
    cell count from the corpus size (adaptive_n_centroids). Pass
    ``codebook`` (train_ivf_codebook → persist → load_ivf_codebook) to
    skip training — the serving-job path."""
    embs = _vecs(spark, sf_dir)
    if codebook is not None:
        cents = codebook
    else:
        if n_centroids is None:
            n, _dim = _corpus_stats(embs)
            n_centroids = adaptive_n_centroids(n)
        cents = _train_centroids(embs, n_centroids, sample, iters)
    dists = _centroid_dists(cents)
    corpus = embs.select(
        "vec_id", "v", F.array_min(dists)["cid"].alias("cell")
    )
    qcells = (
        embs.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q"),
            F.explode(
                F.slice(
                    F.transform(F.array_sort(dists), lambda s: s["cid"]),
                    1,
                    min(probes, len(cents)),
                )
            ).alias("cell"),
        )
    )
    cands = corpus.join(F.broadcast(qcells), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sims = cands.select(
        "query_id", "vec_id", F.round(_cosine(F.col("q"), F.col("v")), 5).alias("cosine")
    ).filter(F.col("cosine").isNotNull())  # zero-norm candidates excluded
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


def dedup_embedding_cosine(
    spark: "SparkSession",
    sf_dir: str,
    threshold: float = 0.35,
    sign_dims: int | None = None,
    probes: int = 2,
) -> "DataFrame":
    """Embedding-cosine near-duplicate pairs, multi-probe: probe p
    sign-buckets the vectors on dims [p*sign_dims, (p+1)*sign_dims)
    (2^sign_dims buckets each; the probe index sits in the bucket
    key's high bits, as dedup_simhash does with its bands), pairs form
    only within a bucket (_bucketed_pairs: oversized buckets pair as a
    hub star), and the probes' candidate pairs are deduped before the
    cosine threshold. The bucket join is the 100 TB path — the cross
    product never materializes, and sign_dims=None scales the bucket
    keyspace with the corpus (adaptive_sign_dims: ≥ 2n keys; max
    bucket size asserted in tests). Zero-norm vectors (all-null after
    _vecs) are dropped before bucketing: they pair with nothing, and
    dropping them keeps bucket sizes identical to the DuckDB twin's.
    Threshold compares the 5-dp-rounded cosine so the cut is FP-stable
    across engines.

    Recall against brute-force pairs at threshold 0.35 (measured): the
    pinned sign_dims=6 of the oracled entry finds 0.125 of them at
    sf0.01 and 0.109 at sf0.1; the adaptive default finds 0.007 at
    sf0.1. Hyperplane LSH over int8 codes recalled 0.258 / 0.113 but
    ran 25.8 s vs 1.5 s at sf0.01 and 121.6 s vs 3.4 s at sf0.1, so
    this operator keeps coordinate signs."""
    embs = _vecs(spark, sf_dir)
    if sign_dims is None:
        n, dim = _corpus_stats(embs)
        sign_dims = adaptive_sign_dims(n, dim, probes)
    embs = embs.filter(F.try_element_at("v", F.lit(1)).isNotNull())
    keys = [
        F.lit(p << sign_dims) + _sign_bucket(F.col("v"), p * sign_dims, sign_dims)
        for p in range(probes)
    ]
    banded = embs.select(
        F.col("vec_id").alias("doc_id"), "v", F.explode(F.array(*keys)).alias("bucket")
    )
    pairs = (
        _bucketed_pairs(banded, "v")
        # a pair can collide in several probes -> keep one row
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            F.round(_cosine(F.col("pa"), F.col("pb")), 5).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= threshold)


def _floor_round5(col) -> "F.Column":
    """floor(x·1e5 + 0.5)/1e5 — 5-dp rounding as PURE IEEE arithmetic,
    so any engine computes the identical double. Engine round()
    builtins disagree on values within an ulp of a decimal boundary
    (measured: dot 0.8040849999999999 → Spark HALF_UP 0.80408, DuckDB
    round 0.80409 — 22 of 1.1M pairs at sf0.1); the explicit formula
    removes the builtin from the contract."""
    return F.floor(col * F.lit(100000.0) + F.lit(0.5)) / F.lit(100000.0)


def dedup_apply_embeddings(
    spark: "SparkSession",
    sf_dir: str,
    threshold: float = 0.35,
    sign_dims: int | None = None,
    probes: int = 2,
) -> "DataFrame":
    """The vector-side keep-list: embedding-cosine near-dup pairs →
    connected components → anti-join, emitting the surviving vec_ids
    (zero-norm failed-embedding rows pass through untouched — they
    pair with nothing). No separate exact stage: identical vectors
    have cosine 1.0 ≥ any threshold, so the cosine pairs subsume
    exact dups. The default threshold matches the oracled pair query
    on this synthetic corpus; real near-dup pruning runs ~0.95+ —
    threshold is the knob, the plan shape is identical."""
    pairs = dedup_embedding_cosine(
        spark, sf_dir, threshold=threshold, sign_dims=sign_dims, probes=probes
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    drop = _near_drops(pairs).select(F.col("doc_id").alias("vec_id"))
    return _embs(spark, sf_dir).select("vec_id").join(drop, "vec_id", "left_anti")


def pack_sequences(
    spark: "SparkSession", sf_dir: str, seq_len: int = 4096, n_shards: int = 16
) -> "DataFrame":
    """Training-sequence packing: documents are concatenated in a
    deterministic order and split into fixed-``seq_len``-token bins —
    the layout an LLM pretraining loader consumes. Each document gets
    its shard, its token start offset within the shard's stream, and
    the bin its first token lands in (concat packing: a document may
    straddle bins; the loader slices at bin boundaries).

    Scale shape: the running-offset window partitions by shard (hash
    at 100 TB; doc_id % n here for oracle determinism) — no global
    sort, shards are independent, and adding shards is how the packing
    stage scales out. Token counts are the T7 estimator over raw text
    (chars/4, floor 1) so the whole operator is one scan + one
    per-shard window."""
    return _pack_docs(_docs(spark, sf_dir), seq_len, n_shards)


def _pack_docs(
    corpus: "DataFrame", seq_len: int = 4096, n_shards: int = 16
) -> "DataFrame":
    docs = corpus.select(
        "doc_id",
        (F.col("doc_id") % n_shards).cast("int").alias("shard"),
        _t7_tokens("text").cast("long").alias("est_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("est_tokens").over(w)
    start = (cum - F.col("est_tokens")).alias("start_tok")
    return docs.select(
        "doc_id",
        "shard",
        "est_tokens",
        start,
        F.floor((cum - F.col("est_tokens")) / seq_len).cast("long").alias("bin"),
    )


# ----------------------------------------------------------- text analysis

_LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "to"),
    "es": ("el", "la", "que", "de", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
}


def _substr_count(col, needle: str):
    # occurrences of ' needle ' in padded lowered text — identical
    # arithmetic is used in the DuckDB oracle
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    token = f" {needle} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(token), F.lit(""))))
        / len(token)
    ).cast("int")


def lang_id(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """N-gram/stopword language-ID heuristic: argmax of marker-word hit
    counts, 'und' (undetermined) when nothing matches."""
    docs = _docs(spark, sf_dir)
    scores = docs.select("doc_id", *_lang_score_cols())
    return scores.select(
        "doc_id",
        *[f"s_{l}" for l in _LANG_MARKERS],
        _lang_pred_from_scores().alias("lang_pred"),
    )


def text_quality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Quality scoring: length/punctuation/stopword/digit ratios +
    mean word length — the native analogue of the kernel's P5 gate."""
    docs = _docs(spark, sf_dir)
    words = _words("text")
    stop_hits = sum(_substr_count(F.col("text"), w) for w in _LANG_MARKERS["en"])
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_calc"),
        F.size(words).cast("long").alias("n_words"),
        # try_divide: ANSI mode (Spark 4 default) raises on /0 — an empty
        # document must yield null ratios, not kill the job
        F.round(F.try_divide(F.length(F.regexp_replace("text", r"[^.,;:!?]", "")), n_chars), 6).alias("punct_ratio"),
        F.round(F.try_divide(F.length(F.regexp_replace("text", r"[^0-9]", "")), n_chars), 6).alias("digit_ratio"),
        F.round(stop_hits / F.size(words), 6).alias("stopword_ratio"),
        F.round((n_chars - F.size(words) + 1) / F.size(words), 6).alias("avg_word_len"),
    )


def token_count(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Token counting: whitespace words + chars/4 estimate (T7) + a
    BPE-ish subword proxy (alnum runs + punctuation marks counted
    separately)."""
    docs = _docs(spark, sf_dir)
    words = _words("text")
    # mark each alnum run with \x01 then count marks = number of runs
    marked = F.regexp_replace("text", "[A-Za-z0-9]+", "\x01")
    alnum_runs = F.length(marked) - F.length(F.replace(marked, F.lit("\x01"), F.lit("")))
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("ws_tokens"),
        _t7_tokens("text").cast("long").alias("est_tokens"),
        (alnum_runs + punct).cast("long").alias("bpeish_tokens"),
    )


def fingerprint(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Document fingerprint: md5 over whitespace-normalized lowered text
    (rolling-hash analogue; stable under reflow)."""
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def vocab_top_k(
    spark: "SparkSession", sf_dir: str, k: int = 200, min_count: int = 1
) -> "DataFrame":
    """Corpus-wide word-frequency table — the input a tokenizer-training
    job (BPE/unigram) reads. One word-keyed shuffle whose volume is
    distinct-words-per-partition, not word occurrences (hash aggregate
    runs map-side partial counts before the exchange); the top-k is a
    TakeOrdered over the already-tiny vocab table, deterministic under
    ties via the (count DESC, word ASC) total order."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), "word")
        .limit(k)
    )


def _lang_score_cols():
    """Marker-hit score expressions, one aliased column per language."""
    return [
        sum(_substr_count(F.col("text"), w) for w in words).alias(f"s_{lang}")
        for lang, words in _LANG_MARKERS.items()
    ]


def _lang_pred_from_scores():
    """Argmax over ALREADY-MATERIALIZED s_<lang> columns. The scores
    must live in their own projection: the argmax references every
    score several times (greatest + one equality per when-branch), and
    column refs are cheap to repeat while inlined marker-scan
    expressions are not — an inlined variant re-ran every marker scan
    per branch and measured 1.6x slower on lang_id and 4x on
    stratified_sample at sf0.1 (CollapseProject keeps the stage split
    because the aliases are expensive and multi-referenced)."""
    best = F.greatest(*[F.col(f"s_{l}") for l in _LANG_MARKERS])
    pred = F.when(best <= 0, "und")
    for lang in _LANG_MARKERS:  # first-match tie-break, fixed order
        pred = pred.when(F.col(f"s_{lang}") == best, lang)
    return pred.otherwise("und")


def corpus_stats(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """One-pass corpus card — the single-row summary a dataset release
    ships (n docs, token volume, length distribution, language share,
    exact-dup rate). One scan, one reduce: every per-doc feature is
    computed in the same map stage, then a single global aggregate.

    Exact percentiles are safe here because the value domain (per-doc
    word counts) is small-cardinality regardless of corpus size — the
    per-partition state is a count-map over distinct lengths, not the
    rows; for unbounded domains swap in approx_percentile."""
    docs = _docs(spark, sf_dir)
    nw = F.size(_words("text"))
    pre = docs.select(
        nw.alias("nw"), F.md5("text").alias("h"), *_lang_score_cols()
    ).select("nw", "h", _lang_pred_from_scores().alias("lang"))
    return pre.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nw").cast("long").alias("total_words"),
        F.round(F.avg("nw"), 6).alias("avg_words"),
        F.round(F.expr("percentile(nw, 0.5)"), 6).alias("p50_words"),
        F.round(F.expr("percentile(nw, 0.9)"), 6).alias("p90_words"),
        F.round(F.avg((F.col("lang") == "en").cast("int")), 6).alias("pct_en"),
        F.round(1 - F.countDistinct("h") / F.count("*"), 6).alias(
            "exact_dup_rate"
        ),
    )


# --------------------------------------------------- repetition filter

# Word-occurrence analogues of the Gopher repetition rules [Rae et al.
# 2021, "Scaling Language Models", Table A1 — character-fraction
# thresholds]; values chosen so the synthetic corpus splits
# non-vacuously. Shared with the DuckDB oracle — single source of truth.
REP_TOP_WORD_T = 0.10
REP_DUP_2GRAM_T = 0.10


def _max_run(arr):
    """Longest run of equal adjacent elements in a SORTED array — i.e.
    the highest frequency of any element — as one higher-order fold.
    This keeps mode-finding map-only: the relational formulation
    (explode + two-level groupBy) the oracle uses would shuffle every
    word occurrence in the corpus."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def repetition_metrics(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gopher-style repetition metrics per document: duplicate-word
    fraction, most-common-word fraction, and the 2-gram analogues of
    both, plus the boolean gate (top-word OR dup-2gram over threshold).
    Docs under 2 words carry no 2-grams → null 2-gram fracs, and the
    gate treats null as not-repetitive (both engines via coalesce).

    Map-only, ZERO shuffles: distinct counts via array_distinct, modes
    via a sort+fold over the per-doc array (`_max_run`) — nothing
    corpus-sized is ever exchanged, unlike the naive explode+groupBy
    which shuffles one row per word occurrence.

    Assumes non-null text (the documents contract guarantees it,
    asserted 0 nulls at every SF): a null-text row would yield a row
    of null metrics here but no row at all in the relational
    (unnest-based) formulation the oracle runs."""
    docs = _docs(spark, sf_dir)
    # Staged projections, deliberately: every stage aliases an
    # expensive expression its successors reference several times, so
    # CollapseProject keeps the stages separate and each array / fold
    # is evaluated exactly once per row. The original single-select
    # version inlined the tokenization + sort + fold into every metric
    # AND again into the gate column — measured 18.9 s at sf0.1 vs
    # ~1 s staged (higher-order folds are interpreted, so duplicated
    # evaluation is not rescued by codegen subexpression elimination).
    s1 = docs.select("doc_id", _words("text").alias("w"))
    s2 = s1.select("doc_id", "w", _word_ngrams(F.col("w"), 2).alias("g2"))
    s3 = s2.select(
        "doc_id",
        F.size("w").alias("n_w"),
        F.size("g2").alias("n_g"),
        F.size(F.array_distinct("w")).alias("nd_w"),
        F.size(F.array_distinct("g2")).alias("nd_g"),
        _max_run(F.array_sort("w")).alias("top_w"),
        _max_run(F.array_sort("g2")).alias("top_g"),
    )
    s4 = s3.select(
        "doc_id",
        F.col("n_w").cast("long").alias("n_words"),
        F.round((F.col("n_w") - F.col("nd_w")) / F.col("n_w"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_w") / F.col("n_w"), 6).alias("top_word_frac"),
        F.round(
            F.try_divide(F.col("n_g") - F.col("nd_g"), F.col("n_g")), 6
        ).alias("dup_2gram_frac"),
        F.round(F.try_divide(F.col("top_g"), F.col("n_g")), 6).alias(
            "top_2gram_frac"
        ),
    )
    return s4.select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "top_word_frac",
        "dup_2gram_frac",
        "top_2gram_frac",
        (
            F.coalesce(
                F.col("top_word_frac") >= F.lit(REP_TOP_WORD_T), F.lit(False)
            )
            | F.coalesce(
                F.col("dup_2gram_frac") >= F.lit(REP_DUP_2GRAM_T),
                F.lit(False),
            )
        ).alias("repetitive"),
    )


# --------------------------------------------- unigram-LM quality filter

# CCNet-style LM quality filter [Wenzek et al. 2020, "CCNet: Extracting
# High Quality Monolingual Datasets", §3.3 — they filter by KenLM
# perplexity; the unigram analogue keeps the same keep/drop shape fully
# relational]. Interpolated (Jelinek–Mercer) smoothing, NOT add-one:
# p(w) = λ·c_w/T + (1−λ)/(k+1) keeps OOV mass constant, so bits/word is
# scale-invariant (add-one's OOV prob shrinks with corpus size, which
# would make any fixed threshold SF-dependent). Threshold splits the
# synthetic corpus ~50/50 at every SF; shared with the DuckDB oracle.
LM_VOCAB_K = 16
LM_LAMBDA = 0.9
LM_BITS_KEEP_T = 6.0


def lm_unigram_score(
    spark: "SparkSession",
    sf_dir: str,
    vocab_k: int = LM_VOCAB_K,
    lam: float = LM_LAMBDA,
    keep_bits: float = LM_BITS_KEEP_T,
) -> "DataFrame":
    """Unigram-LM quality scoring: train a unigram LM on the corpus
    itself (top-``vocab_k`` word frequencies), score each document by
    mean bits/word under interpolated smoothing, and gate on a fixed
    bits threshold — the relational skeleton of CCNet's perplexity
    filter.

    100 TB path: the vocab aggregate shuffles one row per DISTINCT
    word per partition (map-side partial counts), the totals aggregate
    is a single map-side reduce, and both join back as broadcasts —
    the corpus-sized side never shuffles for scoring; the per-doc
    aggregate shuffles ~1 row per doc (explode keeps a doc's words
    co-partitioned, so partial aggregation collapses them before the
    exchange). A production pipeline trains the LM once and persists
    it (the IVF-codebook pattern); deriving it in-query here keeps the
    whole operator one oracle-checkable plan. Deterministic top-k under
    count ties via (n DESC, word ASC)."""
    docs = _docs(spark, sf_dir)
    words = docs.select("doc_id", F.explode(_words("text")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(vocab_k)
    )
    totals = words.agg(F.count("*").alias("t_words"))
    p = F.lit(lam) * F.coalesce(F.col("n"), F.lit(0)) / F.col(
        "t_words"
    ) + F.lit((1.0 - lam) / (vocab_k + 1))
    scored = (
        words.join(F.broadcast(vocab), "word", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.col("n").isNull().cast("int").alias("is_oov"),
            F.log2(p).alias("logp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("is_oov").cast("long").alias("n_oov"),
        F.round(-F.avg("logp"), 6).alias("bits_per_word"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_oov",
        "bits_per_word",
        (F.col("bits_per_word") <= F.lit(keep_bits)).alias("keep_doc"),
    )


# ------------------------------------------------- C4-style line filter

# Line/document heuristics from the C4 cleaning recipe [Raffel et al.
# 2020, "Exploring the Limits of Transfer Learning", §2.2]: keep lines
# that end in terminal punctuation and carry enough words; drop whole
# documents that are too short after filtering or contain code/
# boilerplate markers. Thresholds shared with the DuckDB oracle.
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 3


def c4_clean_batch(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> "DataFrame":
    """C4-style cleaning pass over any (id, text) table: per document,
    keep only lines that end in terminal punctuation ([.!?"]) and have
    at least ``min_line_words`` whitespace words; flag documents
    containing curly braces (code) or 'lorem ipsum' (boilerplate); a
    document survives (``keep_doc``) iff it keeps at least
    ``min_kept_lines`` lines and carries neither flag.

    Map-only, ZERO shuffles: the line filter is one higher-order
    F.filter over the split array — nothing corpus-sized is exchanged,
    and the scan reads only (id, text). Staged projection so the split
    array and kept array are each computed once (the flags and counts
    all reference them; same CollapseProject rationale as
    repetition_metrics)."""
    t = F.col(text_col)
    s1 = df.select(
        id_col,
        F.split(t, "\n").alias("_lines"),
        (t.contains("{") | t.contains("}")).alias("has_brace"),
        F.lower(t).contains("lorem ipsum").alias("has_lorem"),
    )
    kept = F.filter(
        F.col("_lines"),
        lambda x: F.trim(x).rlike(r'[.!?"]$')
        & (F.size(F.split(F.trim(x), " ")) >= F.lit(min_line_words)),
    )
    s2 = s1.select(
        id_col,
        F.size("_lines").cast("long").alias("n_lines"),
        kept.alias("_kept"),
        "has_brace",
        "has_lorem",
    )
    return s2.select(
        id_col,
        "n_lines",
        F.size("_kept").cast("long").alias("n_kept"),
        "has_brace",
        "has_lorem",
        F.array_join("_kept", "\n").alias("cleaned_text"),
        (
            (F.size("_kept") >= F.lit(min_kept_lines))
            & ~F.col("has_brace")
            & ~F.col("has_lorem")
        ).alias("keep_doc"),
    )


# the break-word tables the driver form uses to synthesize line
# structure (the synthetic documents are single-line word soup with no
# punctuation, which would make every C4 rule vacuous). Both engines
# apply the same two sequential regex rewrites, so the structured text
# is byte-identical and the oracle checks the FILTER, not the fixture.
C4_SYN_DOT_WORDS = "table|window|join"
C4_SYN_BARE_WORDS = "data|value|scan"


def _c4_synthesize_lines(docs: "DataFrame") -> "DataFrame":
    """The shared deterministic line-structure synthesis (documented on
    c4_clean): '.\\n' after table/window/join, bare '\\n' after
    data/value/scan — byte-identical in DuckDB."""
    t1 = F.regexp_replace(F.col("text"), f" ({C4_SYN_DOT_WORDS}) ", " $1.\n")
    return docs.select(
        "doc_id",
        F.regexp_replace(t1, f" ({C4_SYN_BARE_WORDS}) ", " $1\n").alias("text"),
    )


def c4_clean(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Driver-query form of c4_clean_batch: synthesize deterministic
    line structure from the documents word soup (break after common
    words — '.\\n' after table/window/join so those lines end in
    terminal punctuation, bare '\\n' after data/value/scan so those
    don't), then run the real cleaning pass. Non-vacuous at sf0.01:
    kept-line fraction averages ~0.33 and keep_doc splits ~300/500;
    adjacent break words also produce sub-minimum-word lines, so the
    min-words rule fires too. The brace/lorem flags are exercised by
    the planted-fixture pytest (this corpus carries neither)."""
    return c4_clean_batch(_c4_synthesize_lines(_docs(spark, sf_dir)))


# ----------------------------------------- cross-document line dedup

# RefinedWeb/CCNet-style line-wise dedup [Penedo et al. 2023 §3.3,
# "line-wise corrections"]: a line occurring verbatim in >= min_count
# documents' worth of lines is boilerplate (nav menus, cookie banners,
# signatures) and is struck from every document. Threshold shared with
# the DuckDB oracle; splits the synthesized corpus ~20/80 at sf0.01.
LINE_DEDUP_MIN_COUNT = 5


def line_dedup_batch(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = LINE_DEDUP_MIN_COUNT,
) -> "DataFrame":
    """Cross-document line deduplication over any (id, text) table:
    normalize each line (trim+lower) and hash it, count occurrences
    CORPUS-WIDE, mark lines reaching ``min_count`` as boilerplate, and
    rebuild each document without them. Unlike c4_clean (per-document
    rules), the signal here is global — exactly how web-pipeline
    boilerplate (navigation, banners) is caught.

    Scale shape: the frequency aggregate is map-side partial (shuffle
    ∝ distinct lines per partition, not occurrences); the mark join is
    line-hash-keyed (AQE broadcasts the boilerplate side when small —
    it usually is: boilerplate is by definition few distinct lines);
    the rebuild groupBy is the one text-sized shuffle, inherent to
    emitting reconstructed text — a pointer-only consumer can stop at
    the mark join. Line order is restored by position, so
    reconstruction is exact."""
    lines = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).withColumn("h", F.md5(F.trim(F.lower(F.col("line")))))
    freq = lines.groupBy("h").agg(F.count("*").alias("n"))
    boiler = freq.filter(F.col("n") >= min_count).select(
        "h", F.lit(True).alias("is_b")
    )
    j = lines.join(boiler, "h", "left")
    per = j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.coalesce(F.col("is_b").cast("int"), F.lit(0)))
        .cast("long")
        .alias("n_boiler"),
        F.collect_list(F.struct("pos", "is_b", "line")).alias("_c"),
    )
    kept = F.transform(
        F.filter(F.array_sort("_c"), lambda x: x["is_b"].isNull()),
        lambda x: x["line"],
    )
    return per.select(
        id_col,
        "n_lines",
        "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_lines"), 6).alias("boiler_frac"),
        F.array_join(kept, "\n").alias("cleaned_text"),
    )


def line_dedup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Driver-query form over the same synthesized line structure as
    c4_clean (the word-soup corpus repeats short break-word lines
    verbatim across documents, so the global threshold fires on ~20%
    of lines at sf0.01 — non-vacuity is pytest-asserted)."""
    return line_dedup_batch(_c4_synthesize_lines(_docs(spark, sf_dir)))


def line_dedup_intra_batch(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """WITHIN-document repeated-line removal: keep each line's FIRST
    occurrence, strike later verbatim repeats (trim+lower normalized)
    — the intra-document complement of line_dedup_batch's corpus-wide
    boilerplate threshold (MassiveText's repetition gates and C4's
    dedup operate inside the document too: scraped pages repeat their
    own nav/footer blocks between sections).

    Scale shape: map-ONLY — every output column derives from the
    document's own line array via higher-order functions (array_position
    against the normalized array gives first-occurrence in one codegen'd
    expression); zero shuffles, zero joins, zero Python at any corpus
    size. NULL-text docs are dropped, matching the family's semantics
    (line_dedup/c4_clean drop them via their explode paths; without
    this filter the map-only select would emit an all-NULL row the
    DuckDB twin never produces)."""
    df = df.filter(F.col(text_col).isNotNull())
    lines = F.split(F.col(text_col), "\n")
    norm = F.transform(lines, lambda x: F.trim(F.lower(x)))
    idx = F.sequence(F.lit(1), F.size(lines))
    kept_idx = F.filter(
        idx, lambda i: F.array_position(norm, F.element_at(norm, i)) == i
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(lines, i))
    n_lines = F.size(lines)
    n_repeat = F.size(lines) - F.size(kept_idx)
    return df.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        n_repeat.cast("long").alias("n_repeat"),
        F.round(n_repeat / n_lines, 6).alias("repeat_frac"),
        F.array_join(kept, "\n").alias("cleaned_text"),
    )


def line_dedup_intra(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Driver-query form over the same synthesized line structure as
    line_dedup / c4_clean. The word soup repeats a full line inside
    the same document occasionally (24 lines across 23 docs at
    sf0.01) — thin but real; the planted pytest covers the dense
    case."""
    return line_dedup_intra_batch(_c4_synthesize_lines(_docs(spark, sf_dir)))


DEFAULT_SAMPLE_RATES = {"en": 1.0, "es": 0.5, "de": 0.5, "fr": 0.5, "und": 0.25}


def stratified_sample(
    spark: "SparkSession",
    sf_dir: str,
    rates: dict[str, float] | None = None,
    salt: str = "strat-v1",
) -> "DataFrame":
    """Deterministic per-stratum downsampling — the corpus-mixing knob
    every LLM data pipeline turns (e.g. keep all English, thin the
    rest): keep a doc iff phash60(doc_id:salt)/2^60 < rate[stratum],
    stratum = predicted language (lang_id).

    Hash-keyed on the doc ID, not the text or a random(): the decision
    is reproducible across runs, partition-count-invariant, and stable
    under reshuffles — re-running the pipeline on a re-sharded 100 TB
    corpus keeps exactly the same documents (a rand()-based sample
    would not). Changing ``salt`` draws an independent sample. Map-only,
    zero shuffles; identical md5 arithmetic in the DuckDB oracle."""
    rates = DEFAULT_SAMPLE_RATES if rates is None else rates
    langs = lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    u = _phash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))
    ) / F.lit(float(1 << 60))
    rate = F.lit(0.0)
    for lang, r in rates.items():
        rate = F.when(F.col("lang_pred") == lang, F.lit(float(r))).otherwise(rate)
    return (
        langs.withColumn("u", F.round(u, 6))
        .filter(u < rate)
        .select("doc_id", "lang_pred", "u")
    )


# Corpus-internal repeated-span detection [Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" — their
# suffix-array ExactSubstr signal, approximated with fixed-width word
# n-grams]: a document whose n-grams largely also occur in OTHER
# documents contains copied spans even when whole-document similarity
# is low. Thresholds shared with the DuckDB oracle; n=4/T=0.2 flags
# ~10% of the synthetic corpus (the planted near-dup docs included).
INTERNAL_NGRAM_N = 4
INTERNAL_SHARED_T = 0.2


def internal_ngram_overlap(
    spark: "SparkSession",
    sf_dir: str,
    n: int = INTERNAL_NGRAM_N,
    threshold: float = INTERNAL_SHARED_T,
) -> "DataFrame":
    """Per document: the fraction of its distinct word ``n``-grams
    that also occur in at least one OTHER document, plus the
    repeated-span flag (fraction ≥ ``threshold``) — the cross-document
    partial-copy signal doc-level Jaccard misses at low overall
    similarity.

    Scale shape: grams are reduced to portable 60-bit hashes BEFORE
    any shuffle (8 bytes instead of n words — the same trick MinHash
    uses), the (doc, gram) distinct and the gram-frequency aggregate
    both run map-side partial, and the share join is gram-hash-keyed.
    Self-repeats inside one document do NOT count as shared (the
    per-doc distinct runs first), so a repetitive-but-original doc is
    repetition_metrics' business, not this op's."""
    docs = _docs(spark, sf_dir)
    per = (
        _ngrams(docs, n)
        .select("doc_id", _phash60(F.col("gram")).alias("g"))
        .distinct()
    )
    freq = per.groupBy("g").agg(F.count("*").alias("nd"))
    tot = per.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    sh = (
        per.join(freq.filter(F.col("nd") >= 2).select("g"), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("ns"))
    )
    frac = F.round(
        F.coalesce(F.col("ns"), F.lit(0)) / F.col("n_grams"), 6
    )
    return (
        tot.join(sh, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("ns"), F.lit(0)).cast("long").alias("n_shared"),
            frac.alias("shared_frac"),
            (frac >= F.lit(threshold)).alias("has_repeated_spans"),
        )
    )


def mix_corpus(
    spark: "SparkSession",
    sf_dir: str,
    alpha: float = 0.3,
    salt: str = "mix-v1",
) -> "DataFrame":
    """Temperature-based corpus mixing [mT5 / XLM-R style: sample
    languages ∝ p^α to flatten the language distribution]: derive each
    language's keep rate FROM THE CORPUS ITSELF — subsampling language
    l with rate ∝ p_l^(α−1) (normalized so the rarest language keeps
    everything) yields post-sample counts ∝ p_l^α — then keep a doc
    iff its deterministic hash-uniform falls under its language's
    rate. Unlike stratified_sample (operator-supplied fixed rates),
    the rates here are data-derived, which is what a real mixing job
    computes from its corpus stats.

    Scale shape: the share aggregate shuffles ≤ one row per distinct
    language per partition; rates and the max-normalizer are one-row /
    few-row broadcasts back onto the corpus, so the corpus side stays
    map-only; the keep decision is the same reproducible,
    partition-invariant phash60 as stratified_sample. Exponent is
    computed as (α − 1.0) in IEEE double on BOTH engines so the pow
    inputs are bit-identical."""
    langs = lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    shares = langs.groupBy("lang_pred").agg(F.count("*").alias("n"))
    pw = F.pow(F.col("n").cast("double"), F.lit(alpha - 1.0))
    mx = shares.agg(F.max(pw).alias("mx"))
    rates = (
        shares.crossJoin(F.broadcast(mx))
        .select("lang_pred", (pw / F.col("mx")).alias("rate"))
    )
    u = _phash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))
    ) / F.lit(float(1 << 60))
    return (
        langs.join(F.broadcast(rates), "lang_pred")
        .filter(u < F.col("rate"))
        .select(
            "doc_id",
            "lang_pred",
            F.round("rate", 6).alias("rate"),
            F.round(u, 6).alias("u"),
        )
    )


# ------------------------------------------------- full corpus pipeline

def quality_filter_docs(
    corpus: "DataFrame", min_words: int = 30, max_digit_ratio: float = 0.3
) -> "DataFrame":
    """Training-corpus quality gate (the filter stage every LLM data
    pipeline runs first): keep documents with at least ``min_words``
    whitespace words and a digit ratio at or below
    ``max_digit_ratio``. Empty/degenerate texts (null ratio via
    try_divide) are dropped. Identical predicates in the DuckDB
    oracle; map-only, no shuffle."""
    words = _words("text")
    dr = F.try_divide(
        F.length(F.regexp_replace("text", r"[^0-9]", "")), F.length("text")
    )
    return corpus.filter(
        (F.size(words) >= min_words)
        & F.coalesce(dr <= max_digit_ratio, F.lit(False))
    )


def corpus_prepare(
    spark: "SparkSession",
    sf_dir: str,
    min_words: int = 30,
    max_digit_ratio: float = 0.3,
    min_jaccard: float = 0.5,
    seq_len: int = 4096,
    n_shards: int = 16,
) -> "DataFrame":
    """THE end-to-end training-data preparation pipeline as one call:
    quality filter → exact + LSH near-dup dedup (candidates verified
    with exact jaccard on candidate pairs only) → concat-packing of
    the surviving corpus into fixed-token bins. Raw documents in,
    loader-ready (doc_id, shard, est_tokens, start_tok, bin) out —
    what a 100 TB pretraining corpus actually runs, with every stage
    the bucket-local / map-only shape documented on its operator.
    Fully DuckDB-oracled end-to-end (the quality predicate folds into
    the shared shingle/LSH CTE chain via a `corpus` CTE)."""
    # the filtered corpus feeds four independent plan subtrees (LSH
    # pairs, the exact-hash stage, the keep-list anti-join, the final
    # pack join) — persist() so it materializes ONCE instead of
    # re-scanning + re-running the regex predicates per subtree.
    # persist, not localCheckpoint: lineage survives, so a lost
    # executor recomputes the partition instead of failing the job
    # (checkpointing is only required where the PLAN must be cut, i.e.
    # the iterative clustering loops)
    filtered = quality_filter_docs(
        _docs(spark, sf_dir), min_words, max_digit_ratio
    ).persist()
    pairs = _lsh_verified_pairs_docs(filtered, min_jaccard=min_jaccard)
    survivors = _keep_list(filtered, _near_drops(pairs))
    kept = filtered.join(survivors.select("doc_id"), "doc_id")
    return _pack_docs(kept, seq_len, n_shards)


def _int8_codes(vec: str, bits_scale: int = 127) -> "F.Column":
    """Symmetric int8 codes of array column ``vec`` against the row's
    ``scale`` column (max |x|): round(x * bits_scale / scale), all-zero
    codes when the scale is 0 (guarded division). The one quantizer
    embedding_quantize and simsearch_int8 share."""
    return F.transform(
        vec,
        lambda x: F.when(
            F.col("scale") > 0,
            F.round(x * F.lit(bits_scale) / F.col("scale"), 0),
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )


def embedding_quantize(
    spark: "SparkSession", sf_dir: str, bits_scale: int = 127
) -> "DataFrame":
    """Symmetric int8 quantization of the embedding column — the
    compression step a 100 TB vector corpus applies before indexing
    (4x smaller, dot products in integer SIMD). Map-only, zero
    shuffles: per-vector scale = max |x| (order-independent), codes =
    round(x * 127 / scale) via higher-order transform, and the
    reported reconstruction error is the per-vector MAX absolute
    error — a max, not a float sum, so it is accumulation-order-proof
    and bit-identical in the DuckDB twin. All arithmetic is forced to
    double (the column is float32; engines promote float*int
    differently). Zero vectors quantize to all-zero codes with scale
    0 (guarded division)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", as_double.alias("vec"))
    staged = staged.withColumn(
        "scale", F.array_max(F.transform("vec", lambda x: F.abs(x)))
    )
    codes = _int8_codes("vec", bits_scale)
    recon_err = F.array_max(
        F.zip_with(
            "vec",
            "codes",
            lambda x, q: F.abs(
                x
                - F.when(
                    F.col("scale") > 0,
                    q.cast("double") * F.col("scale") / F.lit(bits_scale),
                ).otherwise(F.lit(0.0))
            ),
        )
    )
    # err staged BEFORE the rounded-scale alias: a select list that
    # both aliases round(scale) AS scale and references scale inside
    # another expression resolves the latter to the ROUNDED lateral
    # alias (Spark lateral column alias precedence), silently changing
    # the error math
    out = staged.withColumn("codes", codes).withColumn("err", recon_err)
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join(
            F.transform(F.slice("codes", 1, 4), lambda c: c.cast("string")),
            ",",
        ).alias("codes_preview"),
        # 6 dp, not 9: DuckDB rounds doubles via a *1e6 float
        # multiply whose half-ulp error can flip the 9th digit at
        # a .5 boundary; 6 dp keeps both engines on the same side
        F.round("err", 6).alias("max_abs_err"),
    )


def source_scorecard(
    spark: "SparkSession", sf_dir: str, docs: "DataFrame | None" = None
) -> "DataFrame":
    """Per-source corpus scorecard — the table a crawl-mixing decision
    reads: document volume, token volume and share, within-source
    exact-duplicate rate, and mean document size per source.

    Scale shape: stage 1 aggregates on (source, content-hash) — high
    cardinality, map-side partials — so the low-cardinality source key
    only ever receives one row per distinct text (same shielding as
    agent_tool_stats); stage 2 and the share window run on a
    sources-sized table."""
    d = docs if docs is not None else _docs(spark, sf_dir)
    per_text = d.select(
        "source",
        F.md5("text").alias("h"),
        _t7_tokens("text").cast("long").alias("tok"),
    )
    g1 = per_text.groupBy("source", "h").agg(
        F.count("*").alias("n"), F.sum("tok").alias("tok")
    )
    g2 = g1.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").cast("long").alias("n_unique"),
        F.sum("tok").alias("tokens"),
    )
    total = Window.partitionBy()
    return g2.select(
        "source",
        "n_docs",
        "n_unique",
        F.round(1 - F.col("n_unique") / F.col("n_docs"), 6).alias(
            "dup_rate"
        ),
        "tokens",
        F.round(F.col("tokens") / F.col("n_docs"), 4).alias(
            "avg_doc_tokens"
        ),
        F.round(F.col("tokens") / F.sum("tokens").over(total), 6).alias(
            "token_share"
        ),
    )


LM2_BIGRAM_K = 64
LM2_LAM2 = 0.6
LM2_LAM1 = 0.3
LM2_BITS_KEEP_T = 6.5


def lm_bigram_score(
    spark: "SparkSession",
    sf_dir: str,
    bigram_k: int = LM2_BIGRAM_K,
    vocab_k: int = LM_VOCAB_K,
    lam2: float = LM2_LAM2,
    lam1: float = LM2_LAM1,
    keep_bits: float = LM2_BITS_KEEP_T,
) -> "DataFrame":
    """Bigram-LM quality scoring — one order up from lm_unigram_score,
    the relational skeleton of CCNet's pruned-KenLM perplexity filter:
    P(w2|w1) = lam2 * c(w1,w2)/c(w1)          [conditional, if w1 known]
             + lam1 * c(w2)/T                  [unigram backoff]
             + (1-lam2-lam1)/(vocab_k+1)       [floor]
    scored as mean bits per bigram, gated on a fixed threshold.

    100 TB path: the model is BOUNDED (top-``bigram_k`` bigrams +
    top-``vocab_k`` unigrams, both deterministic under ties) and
    broadcasts — exactly how production pipelines ship pruned KenLM
    models — so the corpus side never shuffles for scoring; the only
    corpus-sized exchange is the per-doc partial-aggregated mean.
    Documents with fewer than two words have no bigrams and are
    absent by definition (pytest-documented)."""
    docs = _docs(spark, sf_dir)
    w = _words("text")
    toks = docs.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 2),
                lambda i: F.struct(
                    F.element_at("w", i + 1).alias("w1"),
                    F.element_at("w", i + 2).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    words = docs.select(F.explode(w).alias("word"))
    uni = (
        words.groupBy("word")
        .agg(F.count("*").alias("cu"))
        .orderBy(F.col("cu").desc(), "word")
        .limit(vocab_k)
    )
    big = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(bigram_k)
    )
    totals = words.agg(F.count("*").alias("t_words"))
    floor = (1.0 - lam2 - lam1) / (vocab_k + 1)
    p = (
        F.when(
            F.col("c1").isNotNull() & F.col("c12").isNotNull(),
            F.lit(lam2) * F.col("c12") / F.col("c1"),
        ).otherwise(F.lit(0.0))
        + F.lit(lam1) * F.coalesce(F.col("c2"), F.lit(0)) / F.col("t_words")
        + F.lit(floor)
    )
    scored = (
        bi.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(
            F.broadcast(uni.select(F.col("word").alias("w1"), F.col("cu").alias("c1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("word").alias("w2"), F.col("cu").alias("c2"))),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (F.col("c12").isNull().cast("int")).alias("is_oov_bigram"),
            F.log2(p).alias("logp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("is_oov_bigram").cast("long").alias("n_oov_bigrams"),
        F.round(-F.avg("logp"), 6).alias("bits_per_bigram"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_oov_bigrams",
        "bits_per_bigram",
        (F.col("bits_per_bigram") <= F.lit(keep_bits)).alias("keep_doc"),
    )


def simsearch_int8(
    spark: "SparkSession", sf_dir: str, n_queries: int = 5, k: int = 10
) -> "DataFrame":
    """Brute-force top-k over the int8-QUANTIZED corpus — the serving
    path embedding_quantize exists for: 4x less data scanned per
    query, and the candidate scores are EXACT integer dot products
    (codes ≤ 127, so a 1000-dim dot fits long with 2^40 to spare) —
    no floating-point accumulation anywhere in the hot loop. The
    approximate cosine is reconstructed per candidate as
    dot · scale_q · scale_v / 127² (vectors are unit-normalized before
    quantization, so this IS the cosine estimate) and ranks the top-k;
    zero-norm sentinels are dropped at the scan like the float path.
    Query side broadcasts; the corpus side never shuffles until the
    per-query top-k window."""
    base = _vecs(spark, sf_dir).filter(
        # zero-norm -> all-null vec; try_element_at: ANSI mode throws
        # on an empty embedding array where element_at would crash
        F.try_element_at("v", F.lit(1)).isNotNull()
    )
    base = base.withColumn(
        "scale", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).select(
        "vec_id",
        "scale",
        _int8_codes("v").alias("codes"),
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("codes").alias("qcodes"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "scale",
            "qscale",
            F.aggregate(
                F.zip_with(
                    "codes",
                    "qcodes",
                    lambda a, b: (a * b).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    approx = (
        F.col("dot") * F.col("scale") * F.col("qscale") / F.lit(16129)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("dot_cos", approx)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            "dot",
            F.round("dot_cos", 6).alias("approx_cosine"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def embedding_clusters(
    spark: "SparkSession",
    sf_dir: str,
    codebook: list[list[float]],
) -> "DataFrame":
    """Corpus-composition report over a trained k-means codebook — the
    curation table (per-cluster volume, share, mean fit) a pipeline
    reads to rebalance topical coverage before training. Serving
    shape: the codebook is persisted plan literals
    (train_ivf_codebook → load_ivf_codebook), assignment is the same
    map-only array_min pass the IVF search uses (no shuffle), and the
    only exchanges are the cluster-sized aggregate + share window."""
    # zero-norm sentinels normalize to all-null v (see _cosine's
    # contract); without this filter NULL distances sort first and the
    # row lands in cluster 0, diverging from the DuckDB twin — and
    # try_element_at, not element_at: ANSI mode throws on empty arrays
    embs = _vecs(spark, sf_dir).filter(
        F.try_element_at("v", F.lit(1)).isNotNull()
    )
    nearest = F.array_min(_centroid_dists(codebook))
    assigned = embs.select(
        "vec_id",
        nearest["cid"].alias("cluster"),
        nearest["d"].alias("sq_dist"),
    )
    per = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.avg("sq_dist"), 6).alias("avg_sq_dist"),
    )
    total = Window.partitionBy()
    return per.select(
        "cluster",
        "n_vectors",
        "avg_sq_dist",
        F.round(
            F.col("n_vectors") / F.sum("n_vectors").over(total), 6
        ).alias("share"),
    )


def corpus_diff(
    old: "DataFrame", new: "DataFrame"
) -> "DataFrame":
    """Dataset-versioning diff between two corpus snapshots — the
    table a data registry shows per release: one row per doc_id that
    differs, with status 'added' (only in new), 'removed' (only in
    old), or 'changed' (both, different content hash). Unchanged
    documents are NOT emitted (at 100 TB the diff is small; the
    identical majority never leaves the join).

    One full-outer join on doc_id co-partitioned both sides; text
    never moves — each side reduces to (doc_id, md5) at the scan."""
    a = old.select("doc_id", F.md5("text").alias("h_old"))
    b = new.select("doc_id", F.md5("text").alias("h_new"))
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "changed")
    )
    return (
        j.select("doc_id", status.alias("status"), "h_old", "h_new")
        .filter(F.col("status").isNotNull())
    )


# -------------------------------------------- fuzzy decontamination

def decontaminate_fuzzy_batch(
    corpus: "DataFrame",
    eval_docs: "DataFrame",
    jaccard_threshold: float = 0.5,
) -> "DataFrame":
    """Paraphrase-robust eval-set DECONTAMINATION — drop every training
    document whose MinHash-estimated Jaccard against ANY held-out eval
    document clears ``jaccard_threshold``. The exact 13-gram rule
    (decontaminate_batch) misses lightly edited benchmark text (token
    swaps, truncation, whitespace churn); this is the near-dup arm the
    large-scale pipelines run beside it (the same LSH machinery as
    dedup_minhash_lsh, pointed across the corpus/eval split instead of
    within the corpus).

    Scale shape: the eval side is tiny next to a 100 TB corpus, so its
    banded signatures BROADCAST and the bucket match is a map-side
    broadcast join — the corpus pays exactly the MinHash signature
    aggregation it already pays for dedup (one groupBy over hashed
    shingles with map-side partial min-agg; shingles NOT deduplicated,
    min is duplicate-insensitive) and is never shuffled afterwards.
    Candidate pairs exist only within a shared band bucket, and each is
    bounded by |eval ∩ bucket| ≤ LSH_MAX_BUCKET_DOCS (oversized eval
    buckets are degenerate boilerplate; capping them bounds the
    per-corpus-row fanout — connectivity does not matter here because
    any single surviving hit already drops the doc)."""
    eb = eval_band_table(eval_docs)
    cb = _minhash_bands(corpus)
    hits = (
        cb.join(F.broadcast(eb), "bucket")
        .select(
            "doc_id", _est_jaccard(F.col("sig"), F.col("esig")).alias("est")
        )
        .filter(F.col("est") >= jaccard_threshold)
        .select("doc_id")
        .distinct()
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left_anti")


def eval_band_table(eval_docs: "DataFrame") -> "DataFrame":
    """The broadcastable eval-side artifact of decontaminate_fuzzy_batch
    and contamination_report: banded MinHash signatures of the eval
    set (eval_id, esig, bucket) with degenerate (boilerplate) buckets
    of more than LSH_MAX_BUCKET_DOCS eval docs dropped."""
    eb = _minhash_bands(eval_docs).select(
        F.col("doc_id").alias("eval_id"), F.col("sig").alias("esig"), "bucket"
    )
    w = Window.partitionBy("bucket")
    return (
        eb.withColumn("bsize", F.count("*").over(w))
        .filter(F.col("bsize") <= LSH_MAX_BUCKET_DOCS)
        .drop("bsize")
    )


def decontaminate_fuzzy(
    spark: "SparkSession",
    sf_dir: str,
    jaccard_threshold: float = 0.5,
    eval_mod: int = 5,
) -> "DataFrame":
    """Driver-query form of decontaminate_fuzzy_batch: doc ids divisible
    by ``eval_mod`` play the held-out benchmark set (same split as
    `decontaminate`, so the two arms are directly comparable — the
    planted near-dup pairs that straddle the split are caught HERE even
    when no exact 13-gram survives the edit). Fully DuckDB-oracled via
    the portable md5 double-hash signatures."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % eval_mod == 0)
    corpus = docs.filter(F.col("doc_id") % eval_mod != 0)
    return decontaminate_fuzzy_batch(corpus, ev, jaccard_threshold)


# ------------------------------------------ cross-document boilerplate

def boilerplate_ngrams_batch(
    docs: "DataFrame", n: int = 5, min_docs: int = 3, top_k: int = 100
) -> "DataFrame":
    """Cross-document repeated n-gram table — the corpus-global
    boilerplate detector feeding C4/RefinedWeb-style strike-out rules:
    every word ``n``-gram appearing in at least ``min_docs`` DISTINCT
    documents, ranked by document frequency. Deterministic under ties
    (doc_freq DESC, gram ASC — the gram is unique per row).

    Scale shape: grams deduplicate PER DOCUMENT map-side
    (array_distinct before the explode), so the groupBy count IS the
    document frequency with no count(DISTINCT) and no second shuffle;
    partial counts combine map-side, shuffle volume ∝ distinct grams,
    and the min_docs filter + top-k run on the already-aggregated
    table (TakeOrdered — no global sort)."""
    toks = docs.select(_words("text").alias("w"))
    grams = toks.select(
        F.explode(F.array_distinct(_word_ngrams(F.col("w"), n))).alias("gram")
    )
    counts = (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )
    return counts.orderBy(F.desc("doc_freq"), "gram").limit(top_k)


def boilerplate_ngrams(
    spark: "SparkSession", sf_dir: str, n: int = 5, min_docs: int = 3,
    top_k: int = 100,
) -> "DataFrame":
    """Driver-query form of boilerplate_ngrams_batch over the documents
    table (the planted near-dup families at every SF make the df ≥ 3
    filter non-vacuous: 74 shared 5-grams at sf0.01)."""
    return boilerplate_ngrams_batch(_docs(spark, sf_dir), n, min_docs, top_k)


# ------------------------------------------- deterministic shard shuffle

def shuffle_shards_batch(
    df: "DataFrame",
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "r4",
) -> "DataFrame":
    """Deterministic global shuffle + shard manifest — the step between
    a curated corpus and the training loader: every row gets a
    (shard_id, pos) such that reading shards 0..k-1 each in pos order
    is a seed-reproducible random permutation of the corpus.
    Partition- and parallelism-invariant (the permutation is a pure
    function of seed and id — rerunning on different cluster shapes
    yields byte-identical manifests), and re-seeding gives an
    independent epoch order without rewriting any data.

    Scale shape: shard assignment is a map-only portable hash
    (shard = h % n_shards); ``pos`` is one row_number window PER SHARD,
    so the only exchange is the hash partition by shard_id and the
    per-task state is corpus/n_shards rows — production sizes n_shards
    to the loader-file target (thousands of shards at 100 TB), exactly
    like the writer's file sizing, so no task ever sorts more than one
    shard. No global sort anywhere."""
    h = _phash60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    keyed = df.select(F.col(id_col), h.alias("h")).withColumn(
        "shard_id", (F.col("h") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard_id").orderBy("h", id_col)
    return keyed.select(
        id_col,
        "shard_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def shuffle_shards(
    spark: "SparkSession", sf_dir: str, n_shards: int = 8, seed: str = "r4"
) -> "DataFrame":
    """Driver-query form of shuffle_shards_batch over the documents
    table. Fully DuckDB-oracled (portable md5 hash + row_number under
    the identical (h, doc_id) ordering)."""
    return shuffle_shards_batch(_docs(spark, sf_dir), "doc_id", n_shards, seed)


# ---------------------------------------------- contamination audit

def contamination_report(
    spark: "SparkSession",
    sf_dir: str,
    n: int = 13,
    jaccard_threshold: float = 0.5,
    eval_mod: int = 5,
) -> "DataFrame":
    """Per-eval-document contamination AUDIT — the table a data team
    reads before shipping an eval suite: for every held-out document
    that leaks into the training corpus, how many corpus documents hit
    it on the exact 13-gram rule and how many on the MinHash near-dup
    rule. Complements the keep-lists (decontaminate / _fuzzy), which
    answer "what do we drop" but not "which benchmarks are burned".

    Scale shape: both arms broadcast the eval side (distinct eval
    n-grams; capped eval band buckets) so the corpus is scanned twice
    (once per arm) and never shuffled past the signature agg; every
    post-join table is bounded by the number of HITS × eval size, not
    corpus size. Output: (eval_id, n_exact, n_fuzzy) for eval docs
    with at least one hit."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % eval_mod == 0)
    corpus = docs.filter(F.col("doc_id") % eval_mod != 0)

    evg = (
        _ngrams(ev, n)
        .select(F.col("doc_id").alias("eval_id"), "gram")
        .distinct()
    )
    ex_pairs = (
        _ngrams(corpus, n)
        .join(F.broadcast(evg), "gram")
        .select("eval_id", "doc_id")
        .distinct()
    )
    exc = ex_pairs.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )

    fz_pairs = (
        _minhash_bands(corpus)
        .join(F.broadcast(eval_band_table(ev)), "bucket")
        .select(
            "eval_id", "doc_id",
            _est_jaccard(F.col("sig"), F.col("esig")).alias("est"),
        )
        .filter(F.col("est") >= jaccard_threshold)
        .select("eval_id", "doc_id")
        .distinct()
    )
    fzc = fz_pairs.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_fuzzy")
    )

    report = (
        ev.select(F.col("doc_id").alias("eval_id"))
        .join(exc, "eval_id", "left")
        .join(fzc, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_fuzzy", F.lit(0).cast("long")).alias("n_fuzzy"),
        )
    )
    return report.filter((F.col("n_exact") > 0) | (F.col("n_fuzzy") > 0))


# ------------------------------------------------ per-source keywords

def source_keywords_batch(
    docs: "DataFrame", top_k: int = 5, min_df: int = 2
) -> "DataFrame":
    """Per-source distinguishing keywords — document-frequency tf-idf
    (score = df_source · ln(n_docs / df_corpus)), top-``top_k`` words
    per source. The crawl-triage table: what a source is actually
    about before deciding its mixing weight.

    Scale shape: words deduplicate PER DOCUMENT map-side
    (array_distinct before the explode), so the (source, word) count
    IS the source document frequency; the corpus-wide df is a second
    aggregate over that already-vocab-sized table (never the corpus);
    the final ranking window partitions by source. Doubles rounded to
    6 dp on both engines (the lm_* convention); ties broken by word,
    so the top-k is deterministic."""
    words = docs.select(
        "source",
        F.explode(F.array_distinct(_words("text"))).alias("word"),
    ).filter(F.col("word") != "")
    # sw feeds BOTH the scored join and the corpus-df aggregate; without
    # materialization Spark re-executes the corpus scan + explode once
    # per consumer (verified in the plan: two parquet scans of text).
    # A lazy localCheckpoint collapses them to one corpus pass — the
    # same compute-once fix dedup_incremental measured at 1.75x.
    sw = words.groupBy("source", "word").agg(
        F.count("*").cast("long").alias("df_source")
    ).localCheckpoint(eager=False)
    wa = sw.groupBy("word").agg(F.sum("df_source").alias("df_corpus"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        sw.join(wa, "word")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df_source") >= min_df)
        .select(
            "source", "word", "df_source",
            F.round(
                F.col("df_source")
                * F.log(F.col("n_docs") / F.col("df_corpus")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("source", "word", "df_source", "score")
    )


def source_keywords(
    spark: "SparkSession", sf_dir: str, top_k: int = 5, min_df: int = 2
) -> "DataFrame":
    """Driver-query form of source_keywords_batch over the documents
    table. Fully DuckDB-oracled (round-6 tf-idf, deterministic
    (score DESC, word) row_number top-k)."""
    return source_keywords_batch(_docs(spark, sf_dir), top_k, min_df)


# --------------------------------------------------- dedup dataset card

def dedup_report(
    spark: "SparkSession", sf_dir: str, min_jaccard: float = 0.5
) -> "DataFrame":
    """Single-row dedup DATASET CARD — the summary a data team reads
    after the keep-list run: corpus size, exact-duplicate surplus,
    verified near-dup pair count, component count + largest component,
    total docs dropped and the duplicate fraction. The "how redundant
    is this crawl" number that decides whether dedup is worth re-running
    at a lower threshold.

    Composition of the existing chain (exact hash agg; LSH-verified
    pairs computed ONCE and fed to both the pair count and the
    components stage; one components run feeding both the component
    stats and the keep-list tail); every aggregate is a 1-row
    table, combined by crossJoin — a production pipeline would derive
    the same card from its persisted keep-list instead of recomputing.
    largest_component is the skew headline: a value near n_docs means
    boilerplate collapse, not organic duplication."""
    docs = _docs(spark, sf_dir)
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.count("*") - F.count_distinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_extra"),
    )
    pairs = lsh_verified_pairs(spark, sf_dir, min_jaccard=min_jaccard)
    # pairs feed two consumers (count, components); localCheckpoint
    # materializes the verify chain once
    pairs = pairs.localCheckpoint(eager=False)
    npairs = pairs.agg(F.count("*").cast("long").alias("n_near_pairs"))
    # ONE components run feeds both the component stats and the drop set
    clusters = dedup_clusters(pairs)
    comp = (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias(
                "largest_component"
            ),
        )
    )
    near_drop = clusters.filter(~F.col("is_keeper")).select("doc_id")
    surv = _keep_list(docs, near_drop).agg(F.count("*").cast("long").alias("n_kept"))
    return (
        base.crossJoin(npairs)
        .crossJoin(comp)
        .crossJoin(surv)
        .select(
            "n_docs",
            "n_exact_extra",
            "n_near_pairs",
            "n_components",
            "largest_component",
            (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
            F.round(
                (F.col("n_docs") - F.col("n_kept")) / F.col("n_docs"), 6
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------- feature-hash embedding

HASH_EMBED_DIM = 64


def _hash_embed_sums(docs: "DataFrame", dim: int) -> "DataFrame":
    """(doc_id, bucket, v): exact-integer signed-count bucket sums —
    the sparse core hash_embed and hash_embed_vectors share."""
    words = docs.select(
        "doc_id",
        F.explode(_words("text")).alias("word"),
    ).filter(F.col("word") != "")
    h = _phash60(F.concat(F.lit("e:"), F.col("word")))
    hashed = words.select(
        "doc_id",
        (h % dim).cast("int").alias("bucket"),
        # the next bit above the bucket bits decides the sign — as
        # EXACT integer arithmetic (h % 2dim >= dim), never a double
        # divide: h is ~2^60 and a 53-bit mantissa would corrupt the
        # low bits the sign lives in
        F.when((h % (2 * dim)) >= dim, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(
        F.sum("sign").cast("long").alias("v")
    )


def hash_embed(
    spark: "SparkSession", sf_dir: str, dim: int = HASH_EMBED_DIM
) -> "DataFrame":
    """Driver-query form: the nonzero (doc_id, pos, value) entries of
    hash_embed_vectors' ``v`` — emitted SPARSELY from the bucket sums
    (no dense assembly, no posexplode: a Generate whose input is the
    64-slot interpreted transform cost 4.75 s at sf0.1; the sparse join
    form runs sub-second and is exactly what the DuckDB twin computes).
    Flat scalars because the driver gate's value-hash treats arrays
    opaquely."""
    sums = _hash_embed_sums(_docs(spark, sf_dir), dim).localCheckpoint(
        eager=False  # feeds both the values and the norms
    )
    vd = F.col("v").cast("double")
    norms = sums.groupBy("doc_id").agg(F.sqrt(F.sum(vd * vd)).alias("nrm"))
    return (
        sums.join(norms, "doc_id")
        .filter(F.col("nrm") > 0)
        .select(
            "doc_id",
            F.col("bucket").alias("pos"),
            F.round(vd / F.col("nrm"), 6).alias("value"),
        )
        .filter(F.col("value") != 0.0)
    )


def rp_lsh_params(
    n_vectors: int,
    threshold: float,
    target_recall: float = 0.85,
    min_dims: int = 6,
    max_dims: int = 42,
    max_probes: int = 32,
) -> tuple[int, int]:
    """(sign_dims, probes) for random-HYPERPLANE LSH [Charikar, STOC'02
    "Similarity estimation techniques from rounding algorithms"].

    Coordinate-sign bucketing (adaptive_sign_dims + _sign_bucket) is
    the wrong tool for bag-of-words embeddings: the dominant buckets
    ("the"/"and" mass) have near-constant signs corpus-wide, so at
    sf0.1 probe 0 collapsed 5,000 docs into FOUR buckets (measured:
    max bucket 3,302 → 6.06M candidate pairs — the entire ~55 s cost
    of the first adaptive attempt). Random hyperplanes make each bit a
    fair coin regardless of coordinate skew, restoring the keyspace
    math: sign_dims = ceil(log2 n)+1 ⇒ ≥ 2n keys ⇒ expected random
    collisions ≈ n/4 per probe.

    Width r costs recall per band (P[bit agrees] = 1 − θ/π, θ the
    threshold angle), so probes scale WITH width — banded AND-OR
    exactly like MinHash LSH: recall = 1 − (1 − p^r)^b ≥ target.
    Transcendentals (acos/log) appear only HERE, driver-side at plan
    time; the chosen (r, b) are persisted with the vector artifact so
    a cross-engine twin never re-derives them through its own libm."""
    import math

    if n_vectors <= 1:
        return min_dims, 1
    r = max(min(math.ceil(math.log2(n_vectors)) + 1, max_dims), min_dims)
    p = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    pr = p**r
    if pr >= 1.0:
        return r, 1
    if pr <= 0.0:  # threshold ≤ 0 ⇒ p = 0: no probe count can reach
        return r, max_probes  # the recall target, cap honestly
    # log1p: for pr below ~1e-16, log(1.0 - pr) rounds to log(1.0) = 0
    # and the division crashes; log1p(-pr) keeps the true magnitude
    b = math.ceil(math.log(1.0 - target_recall) / math.log1p(-pr))
    return r, max(1, min(b, max_probes))


def _rp_sign(probe: int, bit: int, j: int) -> int:
    """Deterministic Rademacher sign for hyperplane (probe, bit),
    coordinate j: +1 iff the first md5 nibble of 'rp:probe:bit:j' is
    < 8. md5 is the one hash every engine shares, so a DuckDB twin
    regenerates the identical hyperplanes from the same strings."""
    import hashlib

    d = hashlib.md5(f"rp:{probe}:{bit}:{j}".encode()).hexdigest()
    return 1 if int(d[0], 16) < 8 else -1


def hash_embed_vectors(
    docs: "DataFrame", dim: int = HASH_EMBED_DIM
) -> "DataFrame":
    """Signed feature-hashing text embedding [Weinberger et al., ICML'09
    "Feature Hashing for Large Scale Multitask Learning"] — the
    in-engine text → vector path: every word hashes to a bucket and a
    sign, the signed counts accumulate per bucket, and the vector is
    L2-normalized. No external model, no Python in the plan.

    The servable artifact: (vec_id, v, w) for every doc with at least
    one word surviving sign cancellation — ``v`` the round-6
    L2-normalized double vector (its nonzero entries are exactly the
    oracled hash_embed rows, test-asserted) and ``w`` the RAW signed
    integer counts. ``w`` exists so downstream hyperplane bucketing can
    run on exact integer dots: sign(dot(v, plane)) == sign(dot(w,
    plane)) because the norm is a positive scalar, and an integer dot
    is order-insensitive — any engine, any aggregation order, same
    bucket bit. That removes FP fold order from the bucketing contract
    entirely (it remains only in the final cosine, where both engines
    run the same explicit left fold)."""
    sums = _hash_embed_sums(docs, dim)
    dense = sums.groupBy("doc_id").agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("v")
        ).alias("m")
    )
    wcol = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.try_element_at("m", i.cast("int")), F.lit(0)
        ).cast("long"),
    )
    # integer norm²: exact, so nrm and the rounded v match hash_embed
    # bit-for-bit (same sqrt input)
    staged = dense.select(F.col("doc_id").alias("vec_id"), wcol.alias("w")).select(
        "vec_id",
        "w",
        F.sqrt(
            F.aggregate(
                "w", F.lit(0).cast("long"), lambda a, x: a + x * x
            ).cast("double")
        ).alias("nrm"),
    )
    return staged.filter(F.col("nrm") > 0).select(
        "vec_id",
        F.transform("w", lambda x: F.round(x.cast("double") / F.col("nrm"), 6)).alias(
            "v"
        ),
        "w",
    )


def rp_pair_sims(
    vecs: "DataFrame",
    threshold: float,
    sign_dims: int,
    probes: int,
    dim: int = HASH_EMBED_DIM,
) -> "DataFrame":
    """Random-hyperplane banded pair generation + round-5 cosine
    threshold over a (vec_id, v, w) table.

    Bucketing runs SPARSELY on the integer counts ``w``: nonzero
    coordinates explode once, broadcast-join the (probe, bit, j, sign)
    hyperplane table, and two hash aggregations build per-(vec, probe)
    bucket ids — all whole-stage codegen, no per-bit expression
    unrolling (an unrolled probes×bits×dim expression tree serialized
    12 MiB task binaries and spent ~45 s in plan compile at sf0.01),
    and exact integer dots so aggregation order cannot flip a sign.

    Candidate pairs travel as (vec_a, vec_b) IDS ONLY through the
    bucket self-join + distinct — the 64-double vectors re-join after
    dedup — so the collision shuffle is ~16 bytes/pair, and only
    surviving pairs pay the 64-dim cosine fold. The bucket self-join
    is all-pairs with no hub-star guard, by design: a star keeps
    components connected but drops member-member pairs, and this
    output IS the verified pair list (a guard at LSH_MAX_BUCKET_DOCS
    measured dropping 44 of 199 pairs at sf0.01 and 12,715 of 18,968
    at sf0.1; bucket sizes in dedup_text_semantic_served)."""
    spark = vecs.sparkSession
    proj = spark.createDataFrame(
        [
            (p, i, j, _rp_sign(p, i, j))
            for p in range(probes)
            for i in range(sign_dims)
            for j in range(dim)
        ],
        "probe int, bit int, j int, s long",
    )
    nz = vecs.select(
        "vec_id", F.posexplode("w").alias("j", "wj")
    ).filter(F.col("wj") != 0)
    dots = (
        nz.join(F.broadcast(proj), "j")
        .groupBy("vec_id", "probe", "bit")
        .agg(F.sum(F.col("wj") * F.col("s")).alias("dot"))
    )
    buck = dots.groupBy("vec_id", "probe").agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("bucket")
    )
    a = buck.select("probe", "bucket", F.col("vec_id").alias("vec_a"))
    c = buck.select("probe", "bucket", F.col("vec_id").alias("vec_b"))
    pairs = (
        a.join(c, ["probe", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    sims = (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _floor_round5(_cosine(F.col("va"), F.col("vb"))).alias("cosine"),
        )
    )
    return sims.filter(F.col("cosine") >= threshold)


def dedup_text_semantic_served(
    spark: "SparkSession",
    vectors_path: str,
    threshold: float = 0.9,
    target_recall: float = 0.85,
    params: tuple[int, int] | None = None,
) -> "DataFrame":
    """Semantic text near-dup pairs with no external model: nonzero
    hash-embed unit vectors (hash_embed_vectors) materialized once as
    a parquet artifact (the IVF-codebook serve pattern), bucketed by
    random-hyperplane LSH with (sign_dims, probes) from rp_lsh_params
    — keyspace ≥ 2n, recall bought back with probes. Bag-of-words is
    order-insensitive, so it also pairs shuffled-word rewrites MinHash
    shingles miss. One count() over the slim artifact picks the plan —
    the same AQE-style planning read _corpus_stats does.

    Buckets are NOT balanced on this corpus: hyperplane bits are fair
    coins per plane, but same-generator docs still cluster. Measured
    on the hash-embed artifact, the largest bucket holds 122 of 500
    docs at sf0.01 (8 buckets over LSH_MAX_BUCKET_DOCS) and 501 of
    5,000 at sf0.1 (180 over; 2.6M raw candidate pairs). rp_pair_sims
    still pairs them all-pairs, because those buckets hold real
    near-dups (see its docstring for the pairs a guard would drop)."""
    vecs = spark.read.parquet(vectors_path).select("vec_id", "v", "w")
    if params is None:
        params = rp_lsh_params(vecs.count(), threshold, target_recall)
    sign_dims, probes = params
    return rp_pair_sims(vecs, threshold, sign_dims, probes)


# ------------------------------------ distilled quality classifier

def quality_train(
    vecs: "DataFrame",
    labels: "DataFrame",
    dim: int = HASH_EMBED_DIM,
    l2: float = 1e-3,
) -> list[float]:
    """Train a LINEAR quality classifier by closed-form ridge
    regression over hash-embed features — the model-based quality
    filter of the CCNet/fasttext lineage (distill rule-based gates
    into a dense scorer that generalizes to documents the rules were
    never written for), with the training pass expressed as bounded
    Spark aggregation instead of SGD.

    w = (XᵀX + λ·n·I)⁻¹ Xᵀy over the RAW INTEGER bucket counts ``w``
    of the (vec_id, v, w) artifact plus a bias column. Using the
    integer counts (not the unit vectors) makes every Gram entry an
    EXACT BIGINT sum — aggregation-order-free, so two training runs
    over the same corpus produce bit-identical normal equations and
    therefore bit-identical weights (the rp-bucketing lesson applied
    to model training). The 65×65 solve happens driver-side (numpy,
    plan-time, outside any cross-engine contract — only the persisted
    weights are ever replayed by an oracle).

    Scale shape: the Gram build is a sparse self-join of each doc's
    nonzero entries (≤ dim+1 per doc) followed by ONE groupBy over at
    most (dim+1)² = 4,225 keys — map-side partial sums collapse every
    partition to ≤ 4,225 rows before the exchange, so shuffle volume
    is O(partitions · dim²), independent of corpus size; the driver
    collects exactly 4,225 + 65 rows. At 10¹²-doc scale the BIGINT
    Gram can overflow for pathological count magnitudes — counts are
    per-doc word frequencies (≤ ~10⁴), so Σ w_i·w_j ≤ n·10⁸ holds to
    n ≈ 10¹⁰ docs per training shard; shard the fit (or cast the
    partial sums to DECIMAL) past that."""
    import numpy as np

    y = labels.select(
        "vec_id", F.col("label").cast("long").alias("y")
    )
    # the fit sees ONLY labeled vectors: an unlabeled vector in the
    # Gram but not in Xᵀy would be silently treated as label 0 and
    # bias the solve (round-5 review finding) — inner-join first
    lv = vecs.join(y.select("vec_id"), "vec_id")
    nz = (
        lv.select("vec_id", F.posexplode("w").alias("j", "wj"))
        .filter(F.col("wj") != 0)
        .unionByName(
            lv.select(
                "vec_id",
                F.lit(dim).alias("j"),
                F.lit(1).cast("long").alias("wj"),
            )
        )
    )
    a = nz.select("vec_id", F.col("j").alias("i"), F.col("wj").alias("wi"))
    gram = (
        a.join(nz, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("wi") * F.col("wj")).alias("g"))
        .collect()
    )
    xty = (
        nz.join(y, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("wj") * F.col("y")).alias("b"))
        .collect()
    )
    n = lv.count()
    d = dim + 1
    G = np.zeros((d, d), dtype=np.float64)
    for r in gram:
        G[r["i"], r["j"]] = float(r["g"])
    b = np.zeros(d, dtype=np.float64)
    for r in xty:
        b[r["j"]] = float(r["b"])
    G += l2 * max(n, 1) * np.eye(d)
    return [float(x) for x in np.linalg.solve(G, b)]


def quality_score_served(
    spark: "SparkSession",
    vectors_path: str,
    weights_path: str,
    threshold: float = 0.5,
) -> "DataFrame":
    """Score every vector in the persisted hash-embed artifact with the
    persisted linear weights: score = floor-round-5(w_bias + Σⱼ wⱼ·θⱼ)
    over the raw integer counts, pred_keep = score ≥ threshold.

    Cross-engine exactness contract (same as the cosine chain): the
    dot is an explicit ASCENDING-j left fold over int×double products
    (zip_with preserves element order; F.aggregate folds left), the
    rounding is the floor(x·1e5+0.5)/1e5 formula — both replayed
    verbatim by the DuckDB twin from the same two parquets. The
    weights table is ONE row (a dim+1 array); it joins by broadcast
    crossJoin, so scoring is a map-only pass over the artifact."""
    vecs = spark.read.parquet(vectors_path).select("vec_id", "w")
    wt = spark.read.parquet(weights_path)  # one row: wvec array<double>
    dim = HASH_EMBED_DIM
    dot = F.aggregate(
        F.zip_with(
            "w",
            F.slice("wvec", 1, dim),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = _floor_round5(dot + F.element_at("wvec", dim + 1))
    return (
        vecs.crossJoin(F.broadcast(wt))
        .select("vec_id", score.alias("score"))
        .select(
            "vec_id",
            "score",
            (F.col("score") >= F.lit(threshold)).alias("pred_keep"),
        )
    )


def dedup_semantic_apply(
    spark: "SparkSession",
    vectors_path: str,
    threshold: float = 0.9,
    params: tuple[int, int] | None = None,
) -> "DataFrame":
    """The keep-list tail of the SEMANTIC near-dup family — completing
    the apply symmetry every other dedup modality has (dedup_apply_lsh,
    dedup_apply_embeddings, dedup_apply_conversations): adaptive
    random-hyperplane pairs → min-label connected components →
    anti-join, emitting the surviving vec_ids. Zero-vector documents
    never enter the artifact, so they survive by construction (they
    pair with nothing — same contract as the zero-norm sentinel rows
    of the embedding arm).

    Scale shape inherited whole: the pair stage is rp_pair_sims
    (bounded buckets, id-only collision shuffle), the component stage
    is dedup_clusters' min-label propagation over PAIRS (edge count
    ∝ verified near-dups, not corpus), and the final anti-join is
    id-only. Nothing text- or vector-sized shuffles past the artifact
    scan."""
    pairs = dedup_text_semantic_served(
        spark, vectors_path, threshold, params=params
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    drop = _near_drops(pairs).select(F.col("doc_id").alias("vec_id"))
    return (
        spark.read.parquet(vectors_path)
        .select("vec_id")
        .join(drop, "vec_id", "left_anti")
    )


def tokenizer_fertility(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Tokenizer FERTILITY by detected language — subword tokens per
    whitespace word, the standard multilingual-tokenizer diagnostic
    (the BLOOM/XLM-R analyses): a language with fertility ≫ 1 pays
    more compute and context budget per content word, which is how a
    pretraining team decides a tokenizer under-serves a language or a
    corpus slice needs re-weighting.

    Composes two existing primitives in ONE scan: the BPE-ish subword
    proxy of token_count (alnum runs + punctuation marks) and the
    marker-argmax lang-ID. Staged projections (the eb18c00 lesson):
    the marker scores and token counts materialize as columns before
    the argmax references them. All sums are exact integers; the one
    division happens per OUTPUT row (≤ n_langs + 'und') as
    round(x/y, 6) — the established cross-engine pattern. Scale: the
    groupBy shuffles ≤ n_langs rows per partition after map-side
    partial aggregation; nothing else is exchanged."""
    docs = _docs(spark, sf_dir)
    words = _words("text")
    marked = F.regexp_replace("text", "[A-Za-z0-9]+", "\x01")
    alnum_runs = F.length(marked) - F.length(
        F.replace(marked, F.lit("\x01"), F.lit(""))
    )
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
    est = _t7_tokens("text").cast("long")
    staged = docs.select(
        F.size(words).cast("long").alias("ws"),
        (alnum_runs + punct).cast("long").alias("bp"),
        est.alias("et"),
        *_lang_score_cols(),
    )
    per_doc = staged.select(
        _lang_pred_from_scores().alias("lang"), "ws", "bp", "et"
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bp").alias("bpeish_tokens"),
        F.sum("et").alias("est_tokens"),
    )
    # two fertilities: the subword proxy (degenerately 1.0 on this
    # punctuation-free synthetic corpus — real crawls vary; kept
    # because it is the real-tokenizer shape) and the chars/4 estimator
    # (varies with each language's word-length distribution, so the
    # diagnostic is non-vacuous on the test corpus too)
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpeish_tokens",
        "est_tokens",
        F.round(F.col("bpeish_tokens") / F.col("ws_tokens"), 6).alias(
            "fertility"
        ),
        F.round(F.col("est_tokens") / F.col("ws_tokens"), 6).alias(
            "est_fertility"
        ),
    )
