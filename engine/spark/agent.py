"""Agent-trajectory analytics over the transcript table.

The input everywhere is the canonical (conv_id, turn_idx, role, text,
tool, ts) transcript table (BASELINE.json input_hint). The reference
extracts per-document structure; an *agent-transcript* corpus also
needs trajectory-level signals before training — which tools fire, in
what order, with what cadence, and whether the conversation is
structurally well-formed enough to train on. All four operators are
pure Catalyst (windows + aggregates, zero Python), and every shuffle
is keyed on high-cardinality conv_id or pre-reduced map-side:

- ``tool_usage_stats``: two-level aggregate — (tool, conv_id) first,
  so the low-cardinality ``tool`` key never receives raw turns (at
  10^12 turns a direct groupBy(tool) would funnel the corpus through
  ~5 reducers); the tool-level pass then aggregates conv-level rows.
- ``tool_transitions``: Markov bigrams of consecutive tool calls under
  the stable order (turn_idx, ts). The conv_id window is
  high-cardinality; the bigram groupBy is map-side combined, so the
  shuffle carries one partial row per (task, pair), not per call.
- ``conversation_timing``: per-conversation latency profile from
  lag(ts) gaps. Averages are computed as exact integer sums divided
  once (not a streaming float mean) so the DuckDB twin is
  bit-identical.
- ``conversation_wellformed``: SFT-gate structural validation —
  first-turn role, adjacent same-role repeats, tool-role turns missing
  a tool name. One window + one aggregate per conversation.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

def _w_conv() -> "Window":
    """Stable turn order (pipeline.with_stable_order): duplicate
    timestamps are broken by turn_idx, deterministic per FIXTURES §1.
    Built lazily — WindowSpec construction needs an active session."""
    return Window.partitionBy("conv_id").orderBy("turn_idx", "ts")


def tool_usage_stats(turns: "DataFrame") -> "DataFrame":
    """Per-tool usage: call volume, conversation reach, mean payload
    size, and corpus call share.

    Scale shape: the first aggregate keys on (tool, conv_id) — high
    cardinality, map-side partials — so the handful-of-tools key only
    ever sees one row per conversation it appeared in. The final
    window over the per-tool table runs on ~|tools| rows.
    """
    calls = turns.filter(F.col("tool").isNotNull()).select(
        "tool",
        "conv_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("text_len"),
    )
    per_conv = calls.groupBy("tool", "conv_id").agg(
        F.count("*").alias("conv_calls"),
        F.sum("text_len").alias("conv_text_len"),
    )
    per_tool = per_conv.groupBy("tool").agg(
        F.sum("conv_calls").alias("n_calls"),
        F.count("*").alias("n_convs"),
        F.sum("conv_text_len").alias("text_len"),
    )
    total = Window.partitionBy()
    return per_tool.select(
        "tool",
        "n_calls",
        "n_convs",
        F.round(F.col("text_len") / F.col("n_calls"), 4).alias("avg_text_len"),
        F.round(F.col("n_calls") / F.sum("n_calls").over(total), 6).alias(
            "call_share"
        ),
    )


def tool_transitions(turns: "DataFrame") -> "DataFrame":
    """Markov transition counts between consecutive tool calls within a
    conversation (stable order), with a <START> pseudo-state for each
    conversation's first call and per-source transition probabilities.

    The window partitions on conv_id (high cardinality); the bigram
    aggregate is map-side combined so the final shuffle is ~|tools|^2
    partial rows per task regardless of corpus size.
    """
    calls = turns.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "ts", "tool"
    )
    seq = calls.select(
        F.coalesce(F.lag("tool").over(_w_conv()), F.lit("<START>")).alias(
            "prev_tool"
        ),
        "tool",
    )
    trans = seq.groupBy("prev_tool", "tool").agg(F.count("*").alias("n"))
    per_src = Window.partitionBy("prev_tool")
    return trans.select(
        "prev_tool",
        "tool",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_src), 6).alias("p"),
    )


def conversation_timing(turns: "DataFrame") -> "DataFrame":
    """Per-conversation cadence: turn count, wall duration, and the
    mean/max inter-turn gap in seconds under the stable order.

    Gaps are integer microsecond differences; the mean is one exact
    integer sum divided once (sum/count/1e6) so repeated runs — and
    the DuckDB twin — produce bit-identical doubles. Single-turn
    conversations report null gaps (nothing to measure), not zero.
    """
    g = turns.select(
        "conv_id",
        F.unix_micros("ts").alias("us"),
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(_w_conv())
        ).alias("gap_us"),
    )
    return g.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.round((F.max("us") - F.min("us")) / F.lit(1e6), 6).alias(
            "duration_s"
        ),
        F.round(
            F.sum("gap_us") / F.count("gap_us") / F.lit(1e6), 6
        ).alias("avg_gap_s"),
        F.round(F.max("gap_us") / F.lit(1e6), 6).alias("max_gap_s"),
    )


def tool_latency(turns: "DataFrame") -> "DataFrame":
    """Per-tool execution-latency profile: for every tool-RESULT turn
    (role='tool' with a tool name), the latency is the stable-order
    gap from the preceding turn — the time between the agent issuing
    the call and its result landing. The "which tools are slow"
    telemetry an agent platform reads next to tool_usage_stats.

    Scale shape: one conv-keyed lag window, then the tool_usage_stats
    two-level aggregate — (tool, conv_id) first with exact integer-µs
    sums, so the handful-of-tools key receives one pre-reduced row per
    conversation, never raw turns, and the means are one exact integer
    sum divided once (bit-identical to the DuckDB twin). A
    conversation-opening tool turn has no preceding turn and is
    excluded (null gap), like conversation_timing's single-turn case.

    Output per tool: n_results, avg_latency_s, max_latency_s."""
    g = turns.select(
        "role",
        "tool",
        "conv_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(_w_conv())
        ).alias("gap_us"),
    )
    calls = g.filter(
        (F.col("role") == "tool")
        & F.col("tool").isNotNull()
        & F.col("gap_us").isNotNull()
    )
    per_conv = calls.groupBy("tool", "conv_id").agg(
        F.count("*").alias("n"),
        F.sum("gap_us").alias("s"),
        F.max("gap_us").alias("mx"),
    )
    return per_conv.groupBy("tool").agg(
        F.sum("n").cast("long").alias("n_results"),
        F.round(F.sum("s") / F.sum("n") / F.lit(1e6), 6).alias(
            "avg_latency_s"
        ),
        F.round(F.max("mx") / F.lit(1e6), 6).alias("max_latency_s"),
    )


def conversation_wellformed(turns: "DataFrame") -> "DataFrame":
    """Structural SFT-gate per conversation: does it start with a user
    turn, are there adjacent same-role repeats, and does every
    tool-role turn actually name its tool?

    Output: (conv_id, n_turns, n_role_repeats, n_tool_missing,
    starts_with_user, is_wellformed). One conv-keyed window + one
    conv-keyed aggregate; nothing text-sized moves.
    """
    flagged = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        (F.lag("role").over(_w_conv()) == F.col("role")).alias("same_role"),
        ((F.col("role") == "tool") & F.col("tool").isNull()).alias(
            "tool_missing"
        ),
    )
    agg = flagged.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("same_role").cast("long")).alias("n_role_repeats"),
        F.sum(F.col("tool_missing").cast("long")).alias("n_tool_missing"),
        (
            F.min(F.struct("turn_idx", "role")).getField("role") == "user"
        ).alias("starts_with_user"),
    )
    return agg.withColumn(
        "is_wellformed",
        F.col("starts_with_user")
        & (F.col("n_role_repeats") == 0)
        & (F.col("n_tool_missing") == 0),
    )


def loop_detect(turns: "DataFrame", min_run: int = 3) -> "DataFrame":
    """Agent-loop detector: per conversation, find maximal runs of
    CONSECUTIVE identical actions — same (role, tool, text) — under
    the stable order, and flag conversations whose longest run reaches
    ``min_run``. Repeated identical tool calls / assistant turns are
    the classic stuck-agent failure mode; trajectories that loop are
    filtered (or down-weighted) before SFT/RL training, so this gate
    runs corpus-wide right after well-formedness.

    Runs via gaps-and-islands: two conv-keyed ``row_number`` windows
    (overall vs per-signature) whose difference is constant exactly
    along a consecutive identical-signature run. The signature is an
    md5 of the action triple, so the one shuffle carries 32-char
    hashes, never turn text — and it IS one: hash-partitioning on
    conv_id clusters every finer key this plan needs, so Catalyst
    satisfies the (conv_id, sig) window, the (conv_id, sig, grp) run
    aggregate, and the final conv_id rollup off the SAME Exchange
    (plan-verified: 1 Exchange, 2 Windows, 4 HashAggregates, zero
    re-shuffles). conv_id is high-cardinality, so no funnel.

    Output per conversation: n_turns, max_run (longest identical run),
    n_loops (runs ≥ min_run), n_loop_turns (turns inside such runs),
    first_loop_at (1-based stable-order position where the first loop
    run starts; null when none), is_looping.
    """
    # every field coalesced: concat_ws SKIPS nulls (a null role would
    # collapse the field count and let '(null, "a\\x1fb")' collide with
    # '("a", "b")'), and the DuckDB twin must see the identical
    # null→'' mapping
    sig = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col("role"), F.lit("")),
            F.coalesce(F.col("tool"), F.lit("")),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    base = turns.select(
        "conv_id", "turn_idx", "ts", sig.alias("sig")
    ).withColumn("rn", F.row_number().over(_w_conv()))
    w_sig = Window.partitionBy("conv_id", "sig").orderBy("turn_idx", "ts")
    runs = (
        base.withColumn("grp", F.col("rn") - F.row_number().over(w_sig))
        .groupBy("conv_id", "sig", "grp")
        .agg(F.count("*").alias("run_len"), F.min("rn").alias("run_start"))
    )
    is_loop = F.col("run_len") >= min_run
    return runs.groupBy("conv_id").agg(
        F.sum("run_len").cast("long").alias("n_turns"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum(is_loop.cast("long")).alias("n_loops"),
        F.sum(F.when(is_loop, F.col("run_len")).otherwise(0))
        .cast("long")
        .alias("n_loop_turns"),
        F.min(F.when(is_loop, F.col("run_start")))
        .cast("long")
        .alias("first_loop_at"),
        (F.max("run_len") >= min_run).alias("is_looping"),
    )


def canned_responses(
    turns: "DataFrame", role: str = "assistant", min_convs: int = 3
) -> "DataFrame":
    """Template/canned-turn detector: texts a given role repeats
    VERBATIM across many conversations ("I'm sorry, I can't help with
    that.", tool-failure apologies, greeting templates). The transcript
    analogue of boilerplate_ngrams — canned turns carry no training
    signal and over-represent refusal phrasing, so curation either
    drops or caps them before SFT.

    Scale shape: the first aggregate keys on (text_hash, conv_id) —
    high cardinality, map-side combined — so a canned text appearing
    once per conversation in 10^9 conversations reaches the hash-level
    pass as one pre-reduced row per conversation, and the hash-level
    groupBy's plain count(*) IS the distinct-conversation count (no
    count-distinct shuffle; the boilerplate_ngrams per-doc
    array_distinct lesson at turn granularity). Previews are cut to 80
    chars BEFORE the shuffle, so nothing turn-sized moves.

    Output per canned text (≥ min_convs conversations): preview,
    n_convs, n_uses."""
    base = turns.filter(F.col("role") == role).select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
        "conv_id",
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80).alias(
            "preview"
        ),
    )
    per_conv = base.groupBy("h", "conv_id").agg(
        F.count("*").alias("n"), F.min("preview").alias("preview")
    )
    return (
        per_conv.groupBy("h")
        .agg(
            F.min("preview").alias("preview"),
            F.count("*").cast("long").alias("n_convs"),
            F.sum("n").cast("long").alias("n_uses"),
        )
        .filter(F.col("n_convs") >= min_convs)
        .select("preview", "n_convs", "n_uses")
    )


#: lowercase refusal boilerplate markers (checked via substring
#: containment over lower(text) — the DuckDB twin replays the exact
#: contains() chain, no regex dialect to diverge on). Kept short and
#: high-precision: these phrases are the canonical refusal openers and
#: essentially never occur in genuine task prose.
REFUSAL_MARKERS = (
    "i cannot",
    "i can't",
    "i am unable",
    "i'm unable",
    "as an ai",
    "i won't be able",
)


def refusal_detect(turns: "DataFrame", role: str = "assistant") -> "DataFrame":
    """Refusal-boilerplate gate per conversation: what fraction of a
    given role's turns open with refusal phrasing ("I cannot help
    with…", "As an AI…"). Refusal-heavy trajectories are down-weighted
    or dropped before SFT — over-sampling refusals teaches the model
    to refuse — so this gate runs next to canned_responses (verbatim
    templates) and loop_detect (stuck agents) in the curation pass.

    Scale shape: the marker scan is map-only (a lower() + contains()
    chain inside one codegen'd projection — text never leaves the
    first projection, only a boolean does), followed by ONE conv-keyed
    map-side-combined aggregate. The rate is one exact integer sum
    divided once, so the DuckDB twin is bit-identical.

    Output per conversation (rows only for conversations that have
    ≥1 turn of ``role``): n_turns_scanned, n_refusals, refusal_rate,
    first_refusal_idx (min turn_idx among refusal turns; null when
    none), has_refusal."""
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    is_refusal = F.lit(False)
    for m in REFUSAL_MARKERS:
        is_refusal = is_refusal | low.contains(m)
    base = turns.filter(F.col("role") == role).select(
        "conv_id",
        "turn_idx",
        is_refusal.cast("long").alias("is_refusal"),
    )
    return base.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns_scanned"),
        F.sum("is_refusal").cast("long").alias("n_refusals"),
        F.round(F.sum("is_refusal") / F.count("*"), 6).alias("refusal_rate"),
        F.min(F.when(F.col("is_refusal") == 1, F.col("turn_idx")))
        .cast("long")
        .alias("first_refusal_idx"),
        (F.sum("is_refusal") > 0).alias("has_refusal"),
    )


#: terminal characters a COMPLETE turn is allowed to end on (after
#: rtrim): sentence punctuation, closing quotes/brackets, and '>' for
#: markup-shaped payloads. Anything else is a mid-generation cut.
_TERMINAL_CHARS = (".", "!", "?", '"', "'", ")", "]", "}", ">")


def truncation_detect(
    turns: "DataFrame", role: str = "assistant"
) -> "DataFrame":
    """Mid-generation-truncation gate per conversation: turns of a
    given role that were cut off before completing — the classic
    max-tokens artifact (response ends mid-sentence, an opened
    ``` code fence never closes, or the text trails off in '...').
    Truncated targets teach the model to stop mid-thought, so curation
    drops or repairs them before SFT.

    Per-turn flags, all computed in one map-only projection (text
    never shuffles — only three booleans and the conv key do):

    - ``mid_cut``: non-empty text whose rtrim'd last character is not
      terminal punctuation / a closing bracket (``_TERMINAL_CHARS``);
    - ``fence_broken``: odd number of \\`\\`\\` fences (an opened code
      block that never closes);
    - ``ellipsis``: rtrim'd text ends in '...'.

    One conv-keyed map-side-combined aggregate follows; the rate is
    one exact integer sum divided once (bit-identical twin).

    Output per conversation (rows only for conversations with ≥1 turn
    of ``role``): n_turns_scanned, n_truncated (mid_cut ∨
    fence_broken ∨ ellipsis), n_fence_broken, n_ellipsis, trunc_rate,
    has_truncation."""
    t = F.coalesce(F.col("text"), F.lit(""))
    trimmed = F.rtrim(t)
    last = F.substring(trimmed, -1, 1)
    mid_cut = (F.length(trimmed) > 0) & ~last.isin(*_TERMINAL_CHARS)
    # fence count: occurrences of ``` = removed length / 3 (exact
    # integer — the removed length is always a multiple of 3)
    n_fences = (
        (F.length(t) - F.length(F.regexp_replace(t, "```", ""))) / 3
    ).cast("long")
    fence_broken = n_fences % 2 == 1
    ellipsis = F.substring(trimmed, -3, 3) == "..."
    is_trunc = mid_cut | fence_broken | ellipsis
    base = turns.filter(F.col("role") == role).select(
        "conv_id",
        is_trunc.cast("long").alias("is_trunc"),
        fence_broken.cast("long").alias("is_fence"),
        ellipsis.cast("long").alias("is_ellipsis"),
    )
    return base.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns_scanned"),
        F.sum("is_trunc").cast("long").alias("n_truncated"),
        F.sum("is_fence").cast("long").alias("n_fence_broken"),
        F.sum("is_ellipsis").cast("long").alias("n_ellipsis"),
        F.round(F.sum("is_trunc") / F.count("*"), 6).alias("trunc_rate"),
        (F.sum("is_trunc") > 0).alias("has_truncation"),
    )


def turn_integrity(turns: "DataFrame") -> "DataFrame":
    """Ingest-invariant checker per conversation: the stable-order
    window (turn_idx, ts) that every downstream operator trusts is
    only meaningful if turn_idx keys are unique, contiguous from 0,
    and timestamps don't run backwards — this gate audits exactly
    those invariants on raw ingested turns (the upstream twin of
    conversation_wellformed's role-structure gate), so a broken
    producer is caught before extraction pays per-byte.

    Per-turn flags from ONE conv-keyed lag window (narrow columns
    only — conv_id, turn_idx, integer-µs ts; text never read):

    - ``dup_idx``: turn_idx equals its stable-order predecessor's
      (every non-first row of an equal-idx run fires once, so
      n_turns − n_dup_idx IS the distinct-idx count);
    - ``gap``: turn_idx jumps by more than 1;
    - ``ts_regress``: ts strictly earlier than the predecessor's.

    Output per conversation: n_turns, n_dup_idx, n_gaps,
    n_ts_regressions, starts_at_zero, n_missing (max_idx+1 minus
    distinct idx count — exact integer arithmetic), is_intact."""
    g = turns.select(
        "conv_id",
        "turn_idx",
        F.unix_micros("ts").alias("us"),
    ).select(
        "conv_id",
        "turn_idx",
        F.lag("turn_idx").over(_w_conv_us()).alias("prev_idx"),
        (F.col("us") < F.lag("us").over(_w_conv_us())).alias("ts_regress"),
    )
    # each flag is null on a conversation's first row (no predecessor);
    # sum() skips those, but a SINGLE-turn conversation would sum to
    # null — coalesce to 0 so it reports as intact, like the twin
    agg = g.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.coalesce(
            F.sum((F.col("turn_idx") == F.col("prev_idx")).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dup_idx"),
        F.coalesce(
            F.sum((F.col("turn_idx") > F.col("prev_idx") + 1).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_gaps"),
        F.coalesce(F.sum(F.col("ts_regress").cast("long")), F.lit(0))
        .cast("long")
        .alias("n_ts_regressions"),
        (F.min("turn_idx") == 0).alias("starts_at_zero"),
        F.max("turn_idx").cast("long").alias("max_idx"),
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "n_dup_idx",
        "n_gaps",
        "n_ts_regressions",
        "starts_at_zero",
        (F.col("max_idx") + 1 - (F.col("n_turns") - F.col("n_dup_idx")))
        .cast("long")
        .alias("n_missing"),
        (
            F.col("starts_at_zero")
            & (F.col("n_dup_idx") == 0)
            & (F.col("n_gaps") == 0)
            & (F.col("n_ts_regressions") == 0)
        ).alias("is_intact"),
    )


def _w_conv_us() -> "Window":
    """Stable order for frames that carry ts as integer microseconds
    (``us``) instead of the timestamp column."""
    return Window.partitionBy("conv_id").orderBy("turn_idx", "us")


def assistant_echo(
    turns: "DataFrame", n: int = 5, high: float = 0.5
) -> "DataFrame":
    """Prompt-parroting gate per conversation: for every assistant
    turn whose immediately preceding stable-order turn is a user turn,
    what fraction of the response's distinct word ``n``-grams already
    appear in that prompt. High-echo responses (verbatim restatement
    of the instruction) carry little training signal and inflate
    likelihood cheaply, so curation down-weights them — the
    conversational analogue of internal_ngram_overlap.

    Scale shape: grams are built and deduped PER TURN map-side (the
    boilerplate_ngrams array_distinct lesson), so there is no
    corpus-wide gram table and no gram join — the ONE conv-keyed
    exchange carries per-turn gram arrays (bounded by turn length,
    same order of bytes as the text itself), the lag window pairs each
    turn with its predecessor on that exchange, and the overlap is an
    in-row array_intersect. Tokens and grams are analytics._words /
    _word_ngrams, the corpus tokenizer. Turns shorter than ``n``
    words carry no grams: as responses they are unmeasurable and emit
    no pair; as prompts they contribute an empty array (echo 0).

    Rates are exact integer sizes divided identically in both engines;
    the ``high`` boundary (default 0.5) is IEEE-representable so the
    ≥ gate cannot diverge.

    Output per conversation (rows only where ≥1 measurable pair
    exists): n_pairs, n_grams, n_echoed, echo_rate (micro-average
    sum(echoed)/sum(grams)), max_echo, n_high_echo, has_echo."""
    from engine.spark.analytics import _word_ngrams, _words

    w = _words(F.coalesce(F.col("text"), F.lit("")))
    base = turns.select("conv_id", "turn_idx", "ts", "role", w.alias("w"))
    grams = F.array_distinct(_word_ngrams(F.col("w"), n))
    g = base.select("conv_id", "turn_idx", "ts", "role", grams.alias("grams"))
    paired = g.select(
        "conv_id",
        "role",
        "grams",
        F.lag("role").over(_w_conv()).alias("prev_role"),
        F.lag("grams").over(_w_conv()).alias("prev_grams"),
    )
    pairs = paired.filter(
        (F.col("role") == "assistant")
        & (F.col("prev_role") == "user")
        & (F.size("grams") > 0)
    ).select(
        "conv_id",
        F.size("grams").alias("ng"),
        F.size(F.array_intersect("grams", "prev_grams")).alias("nm"),
    )
    rate = F.col("nm") / F.col("ng")
    return pairs.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("ng").cast("long").alias("n_grams"),
        F.sum("nm").cast("long").alias("n_echoed"),
        F.round(F.sum("nm") / F.sum("ng"), 6).alias("echo_rate"),
        F.round(F.max(rate), 6).alias("max_echo"),
        F.sum((rate >= high).cast("long")).alias("n_high_echo"),
        (F.sum("nm") > 0).alias("has_echo"),
    )


def context_fit(turns: "DataFrame", limit: int = 512) -> "DataFrame":
    """Context-window fit: how much of each conversation's stable-order
    prefix fits a ``limit``-token context — the planning signal for
    truncation/packing policy (what fraction of trajectories train
    whole, where the cut lands when they don't). Token estimate is T7,
    max(1, floor(len(text)/4)) per turn — the kernel chunker's rule,
    which sft_examples and the transcript packers also cut with.

    One conv-keyed running-sum window + one conv-keyed aggregate;
    text never leaves the first projection (only its length does).

    Output per conversation: n_turns, total_tokens, n_turns_fit
    (longest prefix whose running sum stays ≤ limit), tokens_fit
    (that prefix's token count), fits (whole conversation fits)."""
    from engine.spark.pipeline import _t7_tokens

    est = _t7_tokens(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    w = _w_conv().rowsBetween(Window.unboundedPreceding, 0)
    cum = turns.select(
        "conv_id", "turn_idx", "ts", est.alias("est")
    ).withColumn("cum", F.sum("est").over(w))
    in_fit = F.col("cum") <= limit
    return cum.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("est").cast("long").alias("total_tokens"),
        F.sum(in_fit.cast("long")).alias("n_turns_fit"),
        F.coalesce(
            F.max(F.when(in_fit, F.col("cum"))), F.lit(0)
        ).cast("long").alias("tokens_fit"),
        (F.max("cum") <= limit).alias("fits"),
    )


def conversation_language(per_turn: "DataFrame") -> "DataFrame":
    """Per-conversation language ID: marker scores computed per turn
    (map-only), summed per conversation (one conv-keyed map-side-
    combined aggregate — never a concat of conversation text), argmax
    with the same first-match tie-break as the document lang_id.
    Output: (conv_id, s_en, s_es, s_de, s_fr, lang_pred)."""
    from engine.spark.analytics import (
        _LANG_MARKERS,
        _lang_pred_from_scores,
        _lang_score_cols,
    )

    turns = per_turn.select(
        "conv_id", F.coalesce(F.col("cleaned_text"), F.lit("")).alias("text")
    )
    scored = turns.select("conv_id", *_lang_score_cols())
    agg = scored.groupBy("conv_id").agg(
        *[
            F.sum(f"s_{lang}").cast("long").alias(f"s_{lang}")
            for lang in _LANG_MARKERS
        ]
    )
    return agg.withColumn("lang_pred", _lang_pred_from_scores())


def transcript_stats(turns: "DataFrame") -> "DataFrame":
    """One-pass transcript dataset card — the single-row summary a
    transcript-corpus release ships: conversation/turn volume, length
    distribution, role shares, and tool-call rate.

    Two bounded aggregates: per-conversation turn counts (conv-keyed,
    map-side partial, ~1 row per conversation) feed the exact length
    percentiles (safe: the value domain is per-conv turn counts, a
    tiny count-map per partition); the flat role/tool shares come from
    the same scan's global reduce. Nothing text-sized is touched."""
    flat = turns.select(
        "conv_id",
        (F.col("tool").isNotNull()).cast("int").alias("is_tool_call"),
        (F.col("role") == "user").cast("int").alias("is_user"),
        (F.col("role") == "assistant").cast("int").alias("is_assistant"),
    )
    per_conv = flat.groupBy("conv_id").agg(
        F.count("*").alias("nt"),
        F.sum("is_tool_call").alias("tc"),
        F.sum("is_user").alias("us"),
        F.sum("is_assistant").alias("asst"),
    )
    return per_conv.agg(
        F.count("*").cast("long").alias("n_convs"),
        F.sum("nt").cast("long").alias("n_turns"),
        F.round(F.avg("nt"), 6).alias("avg_turns"),
        F.round(F.expr("percentile(nt, 0.5)"), 6).alias("p50_turns"),
        F.round(F.expr("percentile(nt, 0.9)"), 6).alias("p90_turns"),
        F.max("nt").cast("long").alias("max_turns"),
        F.round(F.sum("tc") / F.sum("nt"), 6).alias("tool_call_rate"),
        F.round(F.sum("us") / F.sum("nt"), 6).alias("user_share"),
        F.round(F.sum("asst") / F.sum("nt"), 6).alias("assistant_share"),
    )


def mix_transcripts(
    per_turn: "DataFrame", alpha: float = 0.7, salt: str = "tmix-v1"
) -> "DataFrame":
    """Temperature mixing at CONVERSATION granularity: language comes
    from the per-turn vote (conversation_language), each language's
    keep rate is data-derived (∝ p^(α−1), rarest keeps all — post-
    sample counts ∝ p^α), and the keep decision is the reproducible
    partition-invariant hash-uniform. Same scale shape as mix_corpus:
    the share aggregate moves ≤ one row per distinct language per
    partition, rates broadcast back, the corpus side stays map-only
    after the language vote."""
    from engine.spark.analytics import _phash60

    langs = conversation_language(per_turn).select("conv_id", "lang_pred")
    shares = langs.groupBy("lang_pred").agg(F.count("*").alias("n"))
    pw = F.pow(F.col("n").cast("double"), F.lit(alpha - 1.0))
    mx = shares.agg(F.max(pw).alias("mx"))
    rates = shares.crossJoin(F.broadcast(mx)).select(
        "lang_pred", (pw / F.col("mx")).alias("rate")
    )
    u = _phash60(F.concat(F.col("conv_id"), F.lit(":" + salt))) / F.lit(
        float(1 << 60)
    )
    return (
        langs.join(F.broadcast(rates), "lang_pred")
        .filter(u < F.col("rate"))
        .select(
            "conv_id",
            "lang_pred",
            F.round("rate", 6).alias("rate"),
            F.round(u, 6).alias("u"),
        )
    )
