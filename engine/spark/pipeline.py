"""Pipeline assembly: stable ordering, salted skew-safe partitioning,
the fused extraction stage, and native post-processing expressions.

Scale design (SURVEY.md §4.2):
- Stable total order (north rule W2): row_number over
  (conv_id, turn_idx, ts) — Spark has no implicit row order, so every
  equality comparison and every ordered sink sorts on this key.
- Salted partitioning: the extraction stage partitions on
  pmod(xxhash64(conv_id, turn_block), P) where turn_block =
  floor(turn_idx / SKEW_BLOCK). A mega-thread (10^8-turn conversation)
  therefore spreads across ceil(turns/SKEW_BLOCK) partitions instead
  of pinning one task; extraction is per-turn independent so this is
  safe, and any later per-conversation aggregation does a two-phase
  (partial per salt → final per conv_id) rollup.
- Everything after the single Python hop is Catalyst expressions
  (whole-stage codegen): token math, quality gates, bucketing.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

from engine.spark.stage import extract_turns

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

# turns per salt block: one block ≈ one task's worth of a mega-thread
SKEW_BLOCK = 10_000

# P2 payload cap (reference caps uploads at 10 MB, config.py:57)
MAX_TEXT_CHARS = 10_000_000


def _t7_tokens(text) -> "Column":
    """T7 token estimate, the kernel chunker's rule: max(1,
    floor(len(text) / 4)). Every native token count uses it."""
    return F.greatest(F.lit(1), F.floor(F.length(text) / 4))


def _ordered_md5(entries: "Column", val: str) -> "Column":
    """md5 over the ``val`` field of an array of structs, joined in
    struct sort order: an arrival-order-free fingerprint of a
    collect_list."""
    return F.md5(
        F.array_join(
            F.transform(F.array_sort(entries), lambda s: s[val]), "\x01"
        )
    )


def split_valid(df: "DataFrame") -> tuple["DataFrame", "DataFrame"]:
    """P2 gate: bad rows are ROUTED, not dropped — the reference
    returns structured errors (extract.py:40-68, orchestrator.py:
    268-288). Returns (valid, errors-with-reason)."""
    reason = (
        F.when(F.col("conv_id").isNull(), "null_conv_id")
        .when(F.col("turn_idx").isNull(), "null_turn_idx")
        .when(F.col("text").isNull(), "null_text")
        .when(F.length("text") > MAX_TEXT_CHARS, "oversized_text")
    )
    marked = df.withColumn("_error", reason)
    valid = marked.filter(F.col("_error").isNull()).drop("_error")
    errors = marked.filter(F.col("_error").isNotNull()).select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.col("_error").alias("error"),
        F.length("text").alias("text_length"),
    )
    return valid, errors


def part_expr(num_partitions: int, skew_block: int = SKEW_BLOCK) -> "Column":
    """Deterministic partition id: hash of (conv_id, turn block)."""
    return F.pmod(
        F.xxhash64(F.col("conv_id"), (F.col("turn_idx") / F.lit(skew_block)).cast("long")),
        F.lit(num_partitions),
    ).cast("int")


def with_stable_order(df: "DataFrame") -> "DataFrame":
    """North-rule W2: total, deterministic per-conversation ordering.

    Scale bound: the window sorts each conversation on ONE task, so a
    10^8-turn mega-thread pins that task. Fine for every current
    consumer (extraction doesn't need turn_seq; frame consumers are
    block-bounded). For whole-corpus ordered exports use ordered_export
    below: the same order with bounded task memory."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return df.withColumn("turn_seq", F.row_number().over(w))


def ordered_export(
    df: "DataFrame",
    path: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally-ordered parquet sink without a whole-conversation sort
    on any single task (round-3 verdict task #5).

    repartitionByRange(conv_id, turn_idx) samples range boundaries, so
    a mega-thread SPLITS across consecutive partitions at turn
    boundaries instead of pinning one task, while partition i < j
    still implies every key in i sorts before every key in j. After
    sortWithinPartitions, Spark's part-file numbering follows the
    partition ids — a reader consuming part files in name order gets
    the full (conv_id, turn_idx, ts) global order back. The sort is
    the per-task tail of the same exchange (no extra shuffle)."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 4
    (
        df.repartitionByRange(num_partitions, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx", "ts")
        .write.mode(mode)
        .parquet(path)
    )


def run_extraction(
    df: "DataFrame",
    num_partitions: int | None = None,
    skew_block: int = SKEW_BLOCK,
    span_content: bool = True,
    repartition: bool = True,
) -> "DataFrame":
    """Salted repartition → fused extraction stage → native post columns.

    span_content=False ships offset-only spans through Arrow/shuffle
    (the content duplicates cleaned_text byte-for-byte); recover the
    full span structs losslessly with with_span_content().

    repartition=False skips the salting shuffle and extracts on the
    source's own splits — for stored columnar sources whose layout
    already bounds task size (parquet row groups cap any one task's
    share of a mega-thread at parquet.block.size, ~90k turns at 128 MB
    with ~1.4 KB turns). Extraction is per-turn independent, so the
    result is identical (equality-gated in bench); use the salted path
    when the source layout is unknown/skewed (exploded inputs, tiny
    row groups around one conversation) or when the job needs the
    deterministic part_id layout for checkpoint lineage
    (engine/spark/job.py always salts). part_id is still computed for
    downstream rollups either way.

    The salted layout is 1:1: part_id is in [0, num_partitions), and
    repartitionById sends part_id p to partition p, so each task
    extracts exactly one part_id."""
    if num_partitions is None:
        # 4x task slots: Python-hop task durations vary with document
        # mix, so finer tasks keep all workers busy (measured: 2x left
        # ~15% of cores idle to stragglers at local[32])
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 4
    if not repartition:
        # the no-shuffle path is only a win when the source layout can
        # feed every slot: a scan cannot usefully split below row-group
        # granularity, so a table written as (say) 7 fat single-row-
        # group files caps the stage at 7 working tasks no matter how
        # many cores exist (measured: local[24] ran at local[6] speed
        # on such a layout — and rdd.getNumPartitions() over-reported
        # 24 there, because byte-range splits that contain no row-group
        # midpoint still count). File count is the reliable signal:
        # fall back to the salted shuffle unless there are at least as
        # many files as slots. Non-file sources report no input files
        # and always take the salted path.
        slots = df.sparkSession.sparkContext.defaultParallelism
        try:
            n_files = len(df.inputFiles())
        except Exception:
            n_files = 0
        if n_files < slots:
            repartition = True
    if repartition:
        salted = df.withColumn("part_id", part_expr(num_partitions, skew_block))
        # part_id p goes to partition p: one part_id per task
        salted = salted.repartitionById(num_partitions, "part_id")
        extracted = extract_turns(salted.drop("part_id"), span_content=span_content)
    else:
        extracted = extract_turns(df, span_content=span_content)
    return with_native_post(
        extracted.withColumn("part_id", part_expr(num_partitions, skew_block))
    )


# the code points Python's str.isspace() accepts, which str.strip() removes
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def with_span_content(df: "DataFrame") -> "DataFrame":
    """Rebuild full span structs from narrow (offset-only) spans, all
    native: content = substring(cleaned_text, start_char+1, len),
    stripped of PY_WHITESPACE. The result is byte-identical to
    span_content=True output (parity-tested, multi-chunk turns
    included): the chunker emits text[start_char:end_char].strip(), and
    a single chunk is the whole cleaned text, which is already
    stripped."""
    text = F.col("cleaned_text")
    return df.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                F.trim(
                    text.substr(
                        (s["start_char"] + 1).cast("int"),
                        (s["end_char"] - s["start_char"]).cast("int"),
                    ),
                    F.lit(PY_WHITESPACE),
                ).alias("content"),
                s["index"].alias("index"),
                s["start_char"].alias("start_char"),
                s["end_char"].alias("end_char"),
                s["estimated_tokens"].alias("estimated_tokens"),
            ),
        ),
    )


def with_native_post(df: "DataFrame") -> "DataFrame":
    """Post-extraction analytics as pure Catalyst expressions
    (whole-stage codegen; no Python). Each mirrors a kernel formula and
    tests assert native == kernel on the overlap (SURVEY.md §7.1.4)."""
    return (
        df
        # T7 natively: max(1, len/4) — proves parity with kernel tokens
        .withColumn(
            "estimated_tokens_native",
            _t7_tokens("cleaned_text").cast("int"),
        )
        # A7-style quality bucket over the P5 score
        .withColumn(
            "quality_bucket",
            F.when(F.col("quality_score") >= 85, "excellent")
            .when(F.col("quality_score") >= 70, "good")
            .when(F.col("quality_score") >= 50, "acceptable")
            .otherwise("poor"),
        )
        # chunk accounting from the spans array (higher-order fns, no UDF)
        .withColumn(
            "span_token_sum",
            F.aggregate(
                "spans", F.lit(0), lambda acc, s: acc + s["estimated_tokens"]
            ),
        )
    )


def conversation_rollup(results: "DataFrame") -> "DataFrame":
    """Per-conversation aggregate with two-phase salt-safe execution.

    Phase 1 aggregates per (conv_id, salt block) — map-side combine on
    the already-salted layout — phase 2 merges blocks per conv_id, so
    no single reducer sees a whole mega-thread's rows.
    """
    block = (F.col("turn_idx") / F.lit(SKEW_BLOCK)).cast("long").alias("blk")
    partial = results.groupBy("conv_id", block).agg(
        F.count("*").alias("n"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.col("is_empty").cast("long")).alias("n_empty"),
        F.sum("estimated_tokens").alias("tokens"),
        F.max("quality_score").alias("max_q"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("n_empty").alias("n_empty"),
        F.sum("tokens").alias("tokens"),
        F.max("max_q").alias("max_quality_score"),
    )


def dedup_conversations(per_turn: "DataFrame") -> "DataFrame":
    """Conversation-level exact dedup over extraction output: two
    conversations are duplicates iff their per-turn cleaned texts match
    in turn order. Emits one row per conversation with its fingerprint
    and the keep/drop decision (keeper = min conv_id per fingerprint).

    10^12-turn path: turns are reduced to 32-byte md5s immediately, so
    nothing text-sized ever shuffles, and the fingerprint is built with
    the same two-phase SKEW_BLOCK scheme as conversation_rollup —
    phase 1 hashes each ≤SKEW_BLOCK-turn block (collect_list state is
    block-bounded), phase 2 combines the ordered block hashes, so a
    mega-thread never concentrates on one reducer and no unbounded
    array is ever collected. Final keeper pick is a window over the
    (tiny) one-row-per-conversation table keyed by fingerprint.

    Input needs (conv_id, turn_idx, cleaned_text); turn_idx is the
    stable order (unique per conversation by the transcript contract).
    The per-turn hash covers (turn_idx, text), so equality means the
    whole turn-index→text mapping matches — this also makes the block
    decomposition provably invisible (blocks are a pure function of
    turn_idx, which is itself under the hash), even for sparse or
    gapped indices."""
    h = F.md5(
        F.concat(
            F.col("turn_idx").cast("string"),
            F.lit(":"),
            F.coalesce(F.col("cleaned_text"), F.lit("")),
        )
    ).alias("h")
    blk = (F.col("turn_idx") / F.lit(SKEW_BLOCK)).cast("long").alias("blk")
    per = per_turn.select("conv_id", "turn_idx", blk, h)
    blocks = per.groupBy("conv_id", "blk").agg(
        F.count("*").alias("n"),
        _ordered_md5(F.collect_list(F.struct("turn_idx", "h")), "h").alias("bh"),
    )
    conv = blocks.groupBy("conv_id").agg(
        F.sum("n").cast("long").alias("n_turns"),
        _ordered_md5(F.collect_list(F.struct("blk", "bh")), "bh").alias("conv_fp"),
    )
    w = Window.partitionBy("conv_fp")
    return conv.select(
        "conv_id",
        "conv_fp",
        "n_turns",
        F.min("conv_id").over(w).alias("keep_conv_id"),
        (F.col("conv_id") == F.min("conv_id").over(w)).alias("is_keeper"),
    )


def sft_examples(
    per_turn: "DataFrame",
    max_context_tokens: int = 256,
    max_context_turns: int = 16,
) -> "DataFrame":
    """Training-example construction from transcripts: for every
    assistant turn (the target), determine how much preceding context
    fits a token budget — walking backwards from the nearest turn,
    stopping at the first turn that would overflow (contiguous-suffix
    semantics, the way SFT context windows are actually cut). Emits
    POINTERS (context_from_idx, n_context_turns, context_tokens), not
    concatenated text: at 10^12 turns, materializing each window would
    duplicate the corpus ~k×; the loader slices by pointer instead.

    Scale shape: one window per conversation with a BOUNDED frame
    (rangeBetween(-max_context_turns, -1), ≤16 rows of (idx, tokens)
    state — never whole-conversation arrays), then a per-row
    higher-order fold over that bounded array. The window sort
    concentrates a conversation on one task (same caveat as
    with_stable_order, which the flagship already carries); frame
    state stays O(max_context_turns) regardless of thread length.
    Token counts are the T7 estimator; turn_idx must be dense per
    conversation (the transcript contract), making range- and
    row-frames equivalent and context_from_idx = target − n."""
    text = F.coalesce(F.col("cleaned_text"), F.lit(""))
    toks = _t7_tokens(text).cast("long")
    t = per_turn.select(
        "conv_id", "turn_idx", "role", toks.alias("tokens")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rangeBetween(-max_context_turns, -1)
    )
    ctx = F.collect_list(F.struct("turn_idx", "tokens")).over(w)
    base = t.select("conv_id", "turn_idx", "role", "tokens", ctx.alias("_ctx"))
    targets = base.filter(F.col("role") == "assistant")

    # nearest-first: sort by turn_idx, reverse, then fold with a stop
    # flag — the first context turn that would overflow the budget ends
    # the window (contiguity matters: a far-away small turn must NOT
    # sneak in after a near big one overflowed)
    arr = F.reverse(F.array_sort("_ctx"))
    init = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).alias("n"),
        F.lit(False).alias("stop"),
    )

    def step(acc, x):
        fits = (~acc["stop"]) & (
            (acc["s"] + x["tokens"]) <= F.lit(max_context_tokens)
        )
        return F.struct(
            F.when(fits, acc["s"] + x["tokens"]).otherwise(acc["s"]).alias("s"),
            F.when(fits, acc["n"] + 1).otherwise(acc["n"]).alias("n"),
            (~fits).alias("stop"),
        )

    staged = targets.select(
        "conv_id", "turn_idx", "tokens", F.aggregate(arr, init, step).alias("_f")
    )
    return staged.select(
        "conv_id",
        F.col("turn_idx").alias("target_idx"),
        F.col("tokens").alias("target_tokens"),
        F.col("_f.n").alias("n_context_turns"),
        F.col("_f.s").alias("context_tokens"),
        (F.col("turn_idx") - F.col("_f.n")).cast("int").alias("context_from_idx"),
    )


def transcript_prepare(
    per_turn: "DataFrame",
    min_conv_tokens: int = 64,
    max_empty_frac: float = 0.5,
    seq_len: int = 4096,
    n_shards: int = 16,
) -> "DataFrame":
    """THE end-to-end transcript training-data pipeline as one call:
    conversation-level exact dedup → per-conversation quality gate
    (token floor + empty-turn-fraction cap) → deterministic
    concat-packing of the surviving conversations into fixed-token
    bins. Per-turn extraction rows in, loader-ready
    (conv_id, shard, est_tokens, start_tok, bin) out — the transcript
    analogue of corpus_prepare.

    Scale shape, stage by stage: dedup is the block-bounded fingerprint
    scheme of dedup_conversations (nothing text-sized shuffles); the
    quality rollup uses the same two-phase (conv_id, block) partial
    aggregation, so both per-conv tables arrive via bounded-state
    shuffles of ~1 row per conversation; their join is conv-keyed; the
    packing window partitions by shard (the scale-out axis — more
    shards, more parallel running-offset chains, never a global sort).
    Token counts are the T7 estimator (chars/4, floor 1) over the
    cleaned text, so the whole pipeline needs only
    (conv_id, turn_idx, cleaned_text)."""
    dedup = dedup_conversations(per_turn)
    keepers = dedup.filter(F.col("is_keeper")).select("conv_id")
    return _gate_and_pack(
        per_turn, keepers, min_conv_tokens, max_empty_frac, seq_len, n_shards
    )


def transcript_curate(
    per_turn: "DataFrame",
    min_conv_tokens: int = 64,
    max_empty_frac: float = 0.5,
    seq_len: int = 4096,
    n_shards: int = 16,
    min_jaccard: float = 0.5,
) -> "DataFrame":
    """transcript_prepare with the near-duplicate arm switched on: the
    keep-set comes from dedup_apply_conversations (exact fingerprint
    drops ∪ LSH-verified near-dup component drops) instead of exact
    dedup alone, then the same quality gate and shard-windowed packing.
    The full transcript curation pipeline in one call — what a training
    job runs when truncated re-pastes matter, at the cost of the LSH
    chain's extra shuffles over per-turn shingles."""
    keepers = dedup_apply_conversations(per_turn, min_jaccard)
    return _gate_and_pack(
        per_turn, keepers, min_conv_tokens, max_empty_frac, seq_len, n_shards
    )


def _gate_and_pack(
    per_turn: "DataFrame",
    keepers: "DataFrame",
    min_conv_tokens: int,
    max_empty_frac: float,
    seq_len: int,
    n_shards: int,
) -> "DataFrame":
    """Shared tail of transcript_prepare / transcript_curate: the
    two-phase per-conversation quality rollup, keep-set join, and
    shard-windowed concat packing (see transcript_prepare's docstring
    for the stage-by-stage scale shape)."""
    from engine.spark.analytics import _phash60

    text = F.coalesce(F.col("cleaned_text"), F.lit(""))
    blk = (F.col("turn_idx") / F.lit(SKEW_BLOCK)).cast("long").alias("blk")
    per = per_turn.select(
        "conv_id",
        blk,
        _t7_tokens(text).cast("long").alias("et"),
        (text == "").cast("long").alias("emp"),
    )
    blocks = per.groupBy("conv_id", "blk").agg(
        F.count("*").alias("n"), F.sum("et").alias("et"), F.sum("emp").alias("emp")
    )
    stats = blocks.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.sum("et").cast("long").alias("est_tokens"),
        F.sum("emp").alias("n_empty"),
    )
    # `/` here MUST stay true (double) division: Spark long `/` long and
    # the DuckDB twins' BIGINT `/` BIGINT both promote to double, so the
    # exactly-50%-empty boundary row lands identically in both engines
    # (cross-engine golden: test_gate_boundary_division_identical_both_
    # engines). An integer-division refactor would admit 3/4-empty rows.
    gated = stats.filter(
        (F.col("est_tokens") >= F.lit(min_conv_tokens))
        & (F.col("n_empty") / F.col("n_turns") <= F.lit(max_empty_frac))
    )
    kept = gated.join(keepers, "conv_id")

    shard = F.pmod(_phash60(F.col("conv_id")), F.lit(n_shards)).cast("int")
    sharded = kept.select("conv_id", shard.alias("shard"), "est_tokens")
    w = (
        Window.partitionBy("shard")
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("est_tokens").over(w)
    return sharded.select(
        "conv_id",
        "shard",
        "est_tokens",
        (cum - F.col("est_tokens")).alias("start_tok"),
        F.floor((cum - F.col("est_tokens")) / seq_len).cast("long").alias("bin"),
    )


def dedup_conversations_near(
    per_turn: "DataFrame", min_jaccard: float = 0.5
) -> "DataFrame":
    """Near-duplicate CONVERSATION pairs — the transcript-native
    complement of exact `dedup_conversations` (re-pastes, re-runs with
    one turn edited, truncated copies).

    The key scale property: no text concatenation. A conversation's
    shingle set is the union of its per-turn shingles, so the existing
    (doc_id, text) LSH machinery consumes the per-turn table directly
    with doc_id = conv_id — shingling stays map-only per turn, the
    32-way MinHash min-aggregate merges a conversation's turns in the
    same map-side partial pass that merges a document's rows, and
    nothing conversation-sized is ever assembled. Verification is
    exact shingle-set Jaccard on band-colliding pairs only (hub-star
    guard for boilerplate buckets), identical to the document path.

    Output: (conv_a, conv_b, jaccard) with conv_a < conv_b.
    """
    from engine.spark.analytics import _lsh_verified_pairs_docs

    docs = per_turn.select(
        F.col("conv_id").alias("doc_id"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("text"),
    )
    pairs = _lsh_verified_pairs_docs(docs, min_jaccard)
    return pairs.select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "jaccard",
    )


def dedup_apply_conversations(
    per_turn: "DataFrame", min_jaccard: float = 0.5
) -> "DataFrame":
    """Surviving conv_ids after BOTH conversation-dedup arms — the
    transcript analogue of dedup_apply_lsh, the keep-list a training
    pipeline actually consumes:

    - exact: ordered per-turn fingerprint groups drop every
      conversation but the min-conv_id keeper (`dedup_conversations`);
    - near: LSH-verified high-Jaccard pairs
      (`dedup_conversations_near`) → connected components → drop
      component non-keepers.

    Both drop sets are computed over the full input and unioned
    (mirroring dedup_apply_lsh / its recursive-CTE oracle shape), so a
    conversation that is both an exact and a near duplicate is dropped
    exactly once and the min-id original always survives."""
    from engine.spark.analytics import _near_drops

    exact_drop = (
        dedup_conversations(per_turn)
        .filter(~F.col("is_keeper"))
        .select("conv_id")
    )
    pairs = dedup_conversations_near(per_turn, min_jaccard).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b")
    )
    near_drop = _near_drops(pairs).select(F.col("doc_id").alias("conv_id"))
    return (
        per_turn.select("conv_id")
        .distinct()
        .join(exact_drop, "conv_id", "left_anti")
        .join(near_drop, "conv_id", "left_anti")
    )


def preference_pairs(per_turn: "DataFrame") -> "DataFrame":
    """DPO/RLHF preference-pair construction from transcripts: among
    conversations that answered the SAME prompt (identical first user
    turn) with DIFFERENT responses, pick one (chosen, rejected) pair
    per prompt — chosen = the response with the most assistant tokens
    (tie → min conv_id), rejected = the fewest (tie → max conv_id, so
    a two-way token tie still yields two distinct conversations).
    Groups whose responses are all identical (pure re-runs) carry no
    preference signal and are dropped — exact-duplicate conversations
    never fabricate a pair.

    Input: (conv_id, turn_idx, role, cleaned_text). Conversations with
    no user turn (no prompt) or no assistant turn (no response) are
    skipped.

    10^12-turn path: per-turn text reduces to md5/token scalars
    immediately; the response fingerprint uses the same two-phase
    SKEW_BLOCK ordered-hash scheme as dedup_conversations (block state
    is bounded, a mega-thread never pins one reducer), and the prompt
    is found with a null-skipping struct-min — no collect of user
    turns. The pair pick runs on the one-row-per-conversation table
    via two row_number windows keyed by prompt hash.
    """
    text = F.coalesce(F.col("cleaned_text"), F.lit(""))
    h = F.md5(
        F.concat(F.col("turn_idx").cast("string"), F.lit(":"), text)
    )
    toks = _t7_tokens(text).cast("long")
    is_asst = F.col("role") == "assistant"
    is_user = F.col("role") == "user"
    per = per_turn.select(
        "conv_id",
        (F.col("turn_idx") / F.lit(SKEW_BLOCK)).cast("long").alias("blk"),
        F.when(is_asst, F.struct(F.col("turn_idx").alias("i"), h.alias("h")))
        .alias("a"),
        F.when(is_asst, toks).otherwise(F.lit(0)).cast("long").alias("atoks"),
        F.when(is_user, F.struct(F.col("turn_idx").alias("i"), text.alias("t")))
        .alias("u"),
    )

    blocks = per.groupBy("conv_id", "blk").agg(
        F.sum("atoks").alias("atoks"),
        F.sum(F.col("a").isNotNull().cast("long")).alias("n_asst"),
        _ordered_md5(F.collect_list("a"), "h").alias("bh"),
        F.min("u").alias("u"),
    )
    conv = (
        blocks.groupBy("conv_id")
        .agg(
            F.sum("atoks").cast("long").alias("resp_tokens"),
            F.sum("n_asst").cast("long").alias("n_asst"),
            _ordered_md5(
                F.collect_list(
                    F.when(
                        F.col("n_asst") > 0,
                        F.struct(F.col("blk").alias("i"), F.col("bh").alias("h")),
                    )
                ),
                "h",
            ).alias("resp_fp"),
            F.min("u").alias("u"),
        )
        .filter((F.col("n_asst") > 0) & F.col("u").isNotNull())
        .select(
            "conv_id",
            F.md5(F.col("u.t")).alias("prompt_h"),
            "resp_tokens",
            "resp_fp",
        )
    )
    w_chosen = Window.partitionBy("prompt_h").orderBy(
        F.desc("resp_tokens"), F.asc("conv_id")
    )
    w_reject = Window.partitionBy("prompt_h").orderBy(
        F.asc("resp_tokens"), F.desc("conv_id")
    )
    ranked = conv.select(
        "prompt_h", "conv_id", "resp_tokens", "resp_fp",
        F.row_number().over(w_chosen).alias("rc"),
        F.row_number().over(w_reject).alias("rr"),
    )
    # single flow, no self-join: both window ranks land in one pass
    # (one Exchange on prompt_h serves both sorts), and the pair is
    # assembled by a null-skipping struct-max in the same partitioning
    # — the upstream block aggregation is never computed twice
    side = F.struct("conv_id", "resp_tokens", "resp_fp")
    pairs = ranked.groupBy("prompt_h").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.max(F.when(F.col("rc") == 1, side)).alias("c"),
        F.max(F.when(F.col("rr") == 1, side)).alias("r"),
    )
    return pairs.filter(
        F.col("c.resp_fp") != F.col("r.resp_fp")
    ).select(
        "prompt_h", "n_candidates",
        F.col("c.conv_id").alias("chosen_conv"),
        F.col("c.resp_tokens").alias("chosen_tokens"),
        F.col("r.conv_id").alias("rejected_conv"),
        F.col("r.resp_tokens").alias("rejected_tokens"),
    )


def conversation_branches(
    per_turn: "DataFrame", max_depth: int = 32
) -> "DataFrame":
    """Retry-tree detection: conversations sharing an identical turn
    PREFIX (resampled responses, edited continuations, branched
    sessions) — the transcript-native prefix duplication that inflates
    training token counts without tripping whole-conversation dedup.

    For each conversation, emits its DEEPEST prefix shared with at
    least one other conversation: (conv_id, shared_turns, family_id =
    md5 of that prefix, family_size = how many conversations share it,
    shared_tokens = T7 tokens inside the shared prefix). Conversations
    sharing nothing produce no row.

    Prefixes are positional over the first ``max_depth`` turns in
    stable turn order (retry trees diverge early; the cap is the scale
    bound — a mega-thread contributes ≤max_depth rows to the
    per-conversation collect, never its whole length). Per-turn hashes
    cover (turn_idx, text), so a prefix match means the positional
    turn mapping matches. Shuffle shape: one bounded groupBy per
    conversation, one groupBy on (depth, sig) whose values are 32-byte
    hashes, one max_by back-reduce — nothing text-sized moves after
    the first projection.
    """
    text = F.coalesce(F.col("cleaned_text"), F.lit(""))
    h = F.md5(
        F.concat(F.col("turn_idx").cast("string"), F.lit(":"), text)
    )
    toks = _t7_tokens(text).cast("long")
    t = per_turn.filter(F.col("turn_idx") < max_depth).select(
        "conv_id", "turn_idx", h.alias("h"), toks.alias("toks")
    )
    conv = t.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "h", "toks"))).alias(
            "arr"
        )
    )
    # prefix d = first d elements (positional): sig = md5 of the joined
    # per-turn hashes, ctoks = token sum; O(max_depth^2) expression
    # work per conversation, all inside one codegen'd projection
    prefixes = F.transform(
        F.col("arr"),
        lambda x, i: F.struct(
            (i + F.lit(1)).cast("int").alias("d"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col("arr"), F.lit(1), i + F.lit(1)),
                        lambda s: s["h"],
                    ),
                    "\x01",
                )
            ).alias("sig"),
            F.aggregate(
                F.slice(F.col("arr"), F.lit(1), i + F.lit(1)),
                F.lit(0).cast("long"),
                lambda acc, s: acc + s["toks"],
            ).alias("ctoks"),
        ),
    )
    pref = conv.select(
        "conv_id", F.explode(prefixes).alias("p")
    ).select("conv_id", "p.d", "p.sig", "p.ctoks")
    # family size as a count window over (d, sig) — one Exchange,
    # no groupBy+self-join back onto pref (which would recompute the
    # per-conversation collect+explode upstream twice)
    shared = pref.select(
        "conv_id", "d", "sig", "ctoks",
        F.count("*")
        .over(Window.partitionBy("d", "sig"))
        .cast("long")
        .alias("family_size"),
    ).filter(F.col("family_size") >= 2)
    deepest = shared.groupBy("conv_id").agg(
        F.max_by(
            F.struct("d", "sig", "ctoks", "family_size"), F.col("d")
        ).alias("m")
    )
    return deepest.select(
        "conv_id",
        F.col("m.d").cast("int").alias("shared_turns"),
        F.col("m.sig").alias("family_id"),
        F.col("m.family_size").alias("family_size"),
        F.col("m.ctoks").alias("shared_tokens"),
    )
