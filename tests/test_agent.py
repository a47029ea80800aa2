"""Agent-trajectory analytics (engine/spark/agent.py): hand-built
conversations with known tool sequences, gaps, and structural defects.
The DuckDB twins are covered by test_entry_oracle.py; these tests pin
the semantics themselves."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from engine.spark.agent import (
    conversation_timing,
    conversation_wellformed,
    tool_transitions,
    tool_usage_stats,
)

UTC = dt.timezone.utc


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def turns(spark):
    rows = [
        # conv a: user -> assistant(search) -> tool(search) ->
        #         assistant(sql) -> tool(sql)
        ("a", 0, "user", "hi", None, _ts(0)),
        ("a", 1, "assistant", "looking", "search", _ts(10)),
        ("a", 2, "tool", "result one", "search", _ts(10)),  # dup ts
        ("a", 3, "assistant", "query", "sql", _ts(40)),
        ("a", 4, "tool", "rows", "sql", _ts(100)),
        # conv b: starts with assistant (not wellformed), repeat role,
        # tool-role turn with NULL tool name
        ("b", 0, "assistant", "hello", None, _ts(0)),
        ("b", 1, "assistant", "again", "search", _ts(5)),
        ("b", 2, "tool", "anon output", None, _ts(11)),
        # conv c: single tool call -> <START> transition only
        ("c", 0, "user", "x", None, _ts(0)),
        ("c", 1, "assistant", "y", "web_fetch", _ts(3)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def test_tool_usage_stats(turns):
    got = {r["tool"]: r for r in tool_usage_stats(turns).collect()}
    assert set(got) == {"search", "sql", "web_fetch"}
    assert got["search"]["n_calls"] == 3
    assert got["search"]["n_convs"] == 2  # a and b
    assert got["sql"]["n_calls"] == 2
    assert got["sql"]["n_convs"] == 1
    assert got["web_fetch"]["n_calls"] == 1
    # shares sum to 1 over the 6 calls
    assert got["search"]["call_share"] == pytest.approx(3 / 6)
    assert got["sql"]["call_share"] == pytest.approx(2 / 6)
    # avg_text_len: search outputs 'looking','result one','again'
    assert got["search"]["avg_text_len"] == pytest.approx(
        (len("looking") + len("result one") + len("again")) / 3, abs=1e-4
    )


def test_tool_transitions(turns):
    got = {
        (r["prev_tool"], r["tool"]): r
        for r in tool_transitions(turns).collect()
    }
    # conv a: START->search, search->search (turns 1->2), search->sql,
    # sql->sql; conv b: START->search; conv c: START->web_fetch
    assert got[("<START>", "search")]["n"] == 2
    assert got[("<START>", "web_fetch")]["n"] == 1
    assert got[("search", "search")]["n"] == 1
    assert got[("search", "sql")]["n"] == 1
    assert got[("sql", "sql")]["n"] == 1
    # per-source probabilities: search -> {search: .5, sql: .5}
    assert got[("search", "sql")]["p"] == pytest.approx(0.5)
    assert got[("<START>", "search")]["p"] == pytest.approx(2 / 3)


def test_conversation_timing(turns):
    got = {r["conv_id"]: r for r in conversation_timing(turns).collect()}
    a = got["a"]
    assert a["n_turns"] == 5
    assert a["duration_s"] == pytest.approx(100.0)
    # gaps: 10, 0 (duplicate ts), 30, 60
    assert a["avg_gap_s"] == pytest.approx(25.0)
    assert a["max_gap_s"] == pytest.approx(60.0)
    assert got["c"]["avg_gap_s"] == pytest.approx(3.0)


def test_tool_latency(turns):
    """Latency = stable-order gap preceding each tool-RESULT turn:
    conv a's search result lands at the same ts as its call (0 s, the
    duplicate-ts case), its sql result 60 s after the call; conv b's
    tool turn has no tool name (excluded); conv c has no tool-role
    turns at all."""
    from engine.spark.agent import tool_latency

    got = {r["tool"]: r for r in tool_latency(turns).collect()}
    assert set(got) == {"search", "sql"}
    assert got["search"]["n_results"] == 1
    assert got["search"]["avg_latency_s"] == 0.0
    assert got["search"]["max_latency_s"] == 0.0
    assert got["sql"]["n_results"] == 1
    assert got["sql"]["avg_latency_s"] == 60.0
    assert got["sql"]["max_latency_s"] == 60.0


def test_conversation_wellformed(turns):
    got = {
        r["conv_id"]: r for r in conversation_wellformed(turns).collect()
    }
    assert got["a"]["is_wellformed"]
    assert got["a"]["n_role_repeats"] == 0
    assert got["a"]["n_tool_missing"] == 0
    b = got["b"]
    assert not b["starts_with_user"]
    assert b["n_role_repeats"] == 1  # assistant, assistant
    assert b["n_tool_missing"] == 1  # tool-role turn with NULL name
    assert not b["is_wellformed"]
    assert got["c"]["is_wellformed"]


def test_entry_planting_not_vacuous(spark):
    """The contract entry must exercise every violation type: the
    planted '~bad' copies supply non-user starts + role repeats, and
    the generator's tool-role-without-name supplies the third."""
    import __spark_entry__ as em

    df = em.queries()["conversation_wellformed"](
        spark, "/root/testdata/sf0.01"
    )
    agg = df.agg(
        F.sum(F.col("n_role_repeats")).alias("rr"),
        F.sum(F.col("n_tool_missing")).alias("tm"),
        F.sum((~F.col("starts_with_user")).cast("long")).alias("ns"),
        F.sum(F.col("is_wellformed").cast("long")).alias("ok"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["rr"] > 0 and agg["tm"] > 0 and agg["ns"] > 0
    assert 0 < agg["ok"] < agg["n"]  # gate splits the corpus


def test_loop_detect(spark):
    """Golden loop semantics: a 4-run of identical tool calls is one
    loop; interleaving breaks the run; distinct texts under the same
    tool never loop; single-action conversations report no loop."""
    from engine.spark.agent import loop_detect

    rows = [
        # conv L: user, then the SAME search call 4x in a row, then a
        # distinct wrap-up -> max_run 4, one loop starting at pos 2
        ("L", 0, "user", "find it", None, _ts(0)),
        ("L", 1, "assistant", "searching", "search", _ts(1)),
        ("L", 2, "assistant", "searching", "search", _ts(2)),
        ("L", 3, "assistant", "searching", "search", _ts(3)),
        ("L", 4, "assistant", "searching", "search", _ts(4)),
        ("L", 5, "assistant", "done", None, _ts(5)),
        # conv M: same call repeated but INTERLEAVED with tool output
        # -> every run has length 1, no loop
        ("M", 0, "assistant", "searching", "search", _ts(0)),
        ("M", 1, "tool", "out 1", "search", _ts(1)),
        ("M", 2, "assistant", "searching", "search", _ts(2)),
        ("M", 3, "tool", "out 2", "search", _ts(3)),
        # conv N: same tool, DIFFERENT texts -> no identical run
        ("N", 0, "assistant", "q one", "sql", _ts(0)),
        ("N", 1, "assistant", "q two", "sql", _ts(1)),
        ("N", 2, "assistant", "q three", "sql", _ts(2)),
        # conv O: exactly at threshold (3 identical null-tool turns)
        ("O", 0, "assistant", "ok", None, _ts(0)),
        ("O", 1, "assistant", "ok", None, _ts(1)),
        ("O", 2, "assistant", "ok", None, _ts(2)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in loop_detect(df).collect()}
    L = got["L"]
    assert (L["n_turns"], L["max_run"], L["n_loops"]) == (6, 4, 1)
    assert L["n_loop_turns"] == 4 and L["first_loop_at"] == 2
    assert L["is_looping"]
    for cid in ("M", "N"):
        assert got[cid]["max_run"] == 1 and not got[cid]["is_looping"]
        assert got[cid]["first_loop_at"] is None
    O = got["O"]
    assert O["max_run"] == 3 and O["is_looping"] and O["first_loop_at"] == 1


def test_loop_entry_planting_not_vacuous(spark):
    """The contract entry's '~loop' plants must split the corpus: every
    planted conversation loops (each turn tripled), the pristine
    generator corpus never does."""
    import __spark_entry__ as em

    df = em.queries()["agent_loop_detect"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.sum(F.col("is_looping").cast("long")).alias("looping"),
        F.sum(
            (F.col("conv_id").endswith("~loop") & ~F.col("is_looping")).cast(
                "long"
            )
        ).alias("planted_missed"),
        F.sum(
            (~F.col("conv_id").endswith("~loop") & F.col("is_looping")).cast(
                "long"
            )
        ).alias("natural_loops"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert 0 < agg["looping"] < agg["n"]
    assert agg["planted_missed"] == 0
    assert agg["natural_loops"] == 0


def test_loop_and_fit_match_python_reference_randomized(spark):
    """Seeded randomized equivalence: 200 conversations of random
    small-alphabet actions and lengths, checked turn-for-turn against
    a direct Python run-length / prefix-sum reference. One DataFrame
    round-trip for all conversations (not per-example) so the breadth
    costs one Spark job."""
    import random

    from engine.spark.agent import context_fit, loop_detect

    rng = random.Random(0xA6E27)
    rows, ref_loop, ref_fit = [], {}, {}
    limit = 40
    for c in range(200):
        cid = f"r{c:03d}"
        n = rng.randint(1, 12)
        actions = [
            (
                # None role included: concat_ws skips nulls, so an
                # uncoalesced signature would collapse the field count
                # (the review-found divergence) — the reference's tuple
                # equality is the ground truth
                rng.choice(("user", "assistant", "tool", None)),
                rng.choice((None, "search", "sql")),
                rng.choice(("x", "yy", "zzz", "wwww")) * rng.randint(1, 8),
            )
            for _ in range(n)
        ]
        # sprinkle guaranteed runs: repeat a random prefix action
        if rng.random() < 0.5:
            actions += [actions[rng.randrange(len(actions))]] * rng.randint(
                2, 4
            )
        rows += [
            (cid, i, r, t, tl, _ts(i)) for i, (r, tl, t) in enumerate(actions)
        ]
        # python reference: run lengths over consecutive identical triples
        runs, cur = [], 1
        for i in range(1, len(actions)):
            if actions[i] == actions[i - 1]:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        starts = [1 + sum(runs[:i]) for i in range(len(runs))]
        loops = [(ln, st) for ln, st in zip(runs, starts) if ln >= 3]
        ref_loop[cid] = (
            len(actions),
            max(runs),
            len(loops),
            sum(ln for ln, _ in loops),
            min((st for _, st in loops), default=None),
            max(runs) >= 3,
        )
        # python reference: prefix fit under T7, est = max(1, len(text)//4)
        ests = [max(1, len(t) // 4) for _, _, t in actions]
        cum, fit_n, fit_tok = 0, 0, 0
        for e in ests:
            cum += e
            if cum <= limit:
                fit_n, fit_tok = fit_n + 1, cum
        ref_fit[cid] = (
            len(ests), sum(ests), fit_n, fit_tok, sum(ests) <= limit
        )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {
        r["conv_id"]: (
            r["n_turns"], r["max_run"], r["n_loops"], r["n_loop_turns"],
            r["first_loop_at"], r["is_looping"],
        )
        for r in loop_detect(df).collect()
    }
    assert got == ref_loop
    gotf = {
        r["conv_id"]: (
            r["n_turns"], r["total_tokens"], r["n_turns_fit"],
            r["tokens_fit"], r["fits"],
        )
        for r in context_fit(df, limit=limit).collect()
    }
    assert gotf == ref_fit


def test_canned_responses(spark):
    """Golden template semantics: a text must span ≥ min_convs
    DISTINCT conversations (within-conversation repeats alone never
    qualify, but do count toward n_uses), only the requested role is
    scanned, and the preview is cut to 80 chars."""
    from engine.spark.agent import canned_responses

    canned = "Sorry, I cannot do that. " * 5  # 125 chars -> 80-char preview
    rows = [
        # canned text in 3 conversations, twice in conv a
        ("a", 0, "assistant", canned, None, _ts(0)),
        ("a", 1, "assistant", canned, None, _ts(1)),
        ("b", 0, "assistant", canned, None, _ts(0)),
        ("c", 0, "assistant", canned, None, _ts(0)),
        # repeated 5x but only ever in conv a -> below min_convs
        ("a", 2, "assistant", "ditto", None, _ts(2)),
        ("a", 3, "assistant", "ditto", None, _ts(3)),
        ("a", 4, "assistant", "ditto", None, _ts(4)),
        ("a", 5, "assistant", "ditto", None, _ts(5)),
        ("a", 6, "assistant", "ditto", None, _ts(6)),
        # same text 3 convs but USER role -> out of scope
        ("a", 7, "user", "hello there", None, _ts(7)),
        ("b", 1, "user", "hello there", None, _ts(1)),
        ("c", 1, "user", "hello there", None, _ts(1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = canned_responses(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["preview"] == canned[:80]
    assert r["n_convs"] == 3 and r["n_uses"] == 4


def test_canned_entry_planting_not_vacuous(spark):
    """The contract entry's planted canned turn must be detected, and
    (the generator never repeats verbatim across conversations) must
    be the ONLY detection — so the twin verifies the exact counts."""
    import __spark_entry__ as em

    rows = em.queries()["canned_responses"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["preview"] == em._CANNED_TEXT[:80]
    assert rows[0]["n_convs"] == rows[0]["n_uses"] >= 3


def test_refusal_detect(spark):
    """Golden refusal semantics: markers are case-folded substring
    containment, only the requested role is scanned, the rate is an
    exact sum/count, and conversations without any scanned turn emit
    no row (nothing to rate)."""
    from engine.spark.agent import refusal_detect

    rows = [
        # user turn containing a marker -> out of scope
        ("a", 0, "user", "I cannot believe this works", None, _ts(0)),
        ("a", 1, "assistant", "Sure, here is the answer.", None, _ts(1)),
        ("a", 2, "assistant", "I'm sorry, but I CANNOT help with that.",
         None, _ts(2)),
        ("a", 3, "assistant", "As an AI, I must decline.", None, _ts(3)),
        ("b", 0, "assistant", "All good.", None, _ts(0)),
        ("c", 0, "user", "hi", None, _ts(0)),  # no assistant turns
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in refusal_detect(df).collect()}
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert a["n_turns_scanned"] == 3 and a["n_refusals"] == 2
    assert a["refusal_rate"] == pytest.approx(round(2 / 3, 6))
    assert a["first_refusal_idx"] == 2 and a["has_refusal"]
    b = got["b"]
    assert b["n_refusals"] == 0 and not b["has_refusal"]
    assert b["first_refusal_idx"] is None


def test_refusal_entry_planting_not_vacuous(spark):
    """The contract entry's planted refusal turns must be detected —
    and (the generator's prose never contains a marker) must be the
    ONLY detections: every refusal conversation has exactly one
    refusal, at the planted turn_idx 9999."""
    import __spark_entry__ as em

    df = em.queries()["refusal_detect"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.sum(F.col("has_refusal").cast("long")).alias("r"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert 0 < agg["r"] < agg["n"]  # gate splits the corpus
    bad = df.filter(
        F.col("has_refusal")
        & ((F.col("n_refusals") != 1) | (F.col("first_refusal_idx") != 9999))
    )
    assert bad.count() == 0


def test_truncation_detect(spark):
    """Golden truncation semantics: mid-sentence cut (non-terminal
    last char after rtrim), unclosed ``` fence, trailing ellipsis;
    balanced fences and whitespace-only turns are clean; only the
    requested role is scanned."""
    from engine.spark.agent import truncation_detect

    rows = [
        ("a", 0, "assistant", "This sentence is complete.", None, _ts(0)),
        ("a", 1, "assistant", "cut off mid", None, _ts(1)),
        ("a", 2, "assistant", "Trailing off...", None, _ts(2)),
        ("a", 3, "assistant", "```python\nx = 1\n```\ndone.", None, _ts(3)),
        ("a", 4, "assistant", "```python\ndef f():", None, _ts(4)),
        ("a", 5, "assistant", "   ", None, _ts(5)),
        ("b", 0, "assistant", "Closing bracket)", None, _ts(0)),
        ("b", 1, "user", "not scanned at all", None, _ts(1)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in truncation_detect(df).collect()}
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert a["n_turns_scanned"] == 6
    assert a["n_truncated"] == 3  # turns 1 (mid), 2 (ellipsis), 4 (fence)
    assert a["n_fence_broken"] == 1 and a["n_ellipsis"] == 1
    assert a["trunc_rate"] == pytest.approx(0.5)
    assert a["has_truncation"]
    b = got["b"]
    assert b["n_truncated"] == 0 and not b["has_truncation"]


def test_truncation_entry_planting_not_vacuous(spark):
    """The planted fence/ellipsis arms must both fire (they never
    occur naturally), and the natural mid-cut arm must fire too."""
    import __spark_entry__ as em

    df = em.queries()["truncation_detect"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.sum("n_fence_broken").alias("f"),
        F.sum("n_ellipsis").alias("e"),
        F.sum("n_truncated").alias("t"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert agg["f"] > 0 and agg["e"] > 0
    # mid-cut fires naturally (invoices/plain docs end on digits), so
    # total truncations exceed the two planted arms combined
    assert agg["t"] > agg["f"] + agg["e"]


def test_turn_integrity(spark):
    """Golden invariant audit: duplicate turn_idx, index gaps, ts
    regressions, a nonzero start, and single-turn conversations all
    report exactly; n_missing is max_idx+1 minus the distinct-idx
    count (a triple-repeat counts two dups, so distinct stays exact)."""
    from engine.spark.agent import turn_integrity

    rows = [
        # conv a: pristine
        ("a", 0, "user", "x", None, _ts(0)),
        ("a", 1, "assistant", "y", None, _ts(1)),
        # conv b: idx 1 tripled (2 dups), gap 2->5 (missing: 3,4),
        # ts regression at idx 5
        ("b", 0, "user", "x", None, _ts(0)),
        ("b", 1, "user", "x", None, _ts(1)),
        ("b", 1, "user", "x", None, _ts(2)),
        ("b", 1, "user", "x", None, _ts(3)),
        ("b", 2, "user", "x", None, _ts(4)),
        ("b", 5, "user", "x", None, _ts(1)),  # gap AND ts regress
        # conv c: starts at 3 (leading indices missing)
        ("c", 3, "user", "x", None, _ts(0)),
        ("c", 4, "user", "x", None, _ts(1)),
        # conv d: single turn -> intact, zero counters (not null)
        ("d", 0, "user", "x", None, _ts(0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in turn_integrity(df).collect()}
    a, b, c, d = got["a"], got["b"], got["c"], got["d"]
    assert a["is_intact"] and a["n_missing"] == 0
    assert b["n_dup_idx"] == 2 and b["n_gaps"] == 1
    assert b["n_ts_regressions"] == 1
    assert b["n_missing"] == 2 and not b["is_intact"]
    assert c["starts_at_zero"] is False and c["n_missing"] == 3
    assert not c["is_intact"]
    assert d["is_intact"] and d["n_dup_idx"] == 0 and d["n_turns"] == 1


def test_turn_integrity_entry_planting_not_vacuous(spark):
    """The generator's conversations are pristine, so exactly the
    planted md5-prefix-'6' conversations report violations — one dup,
    one gap (the 9998 jump), one regression each — and everything
    else is intact."""
    import __spark_entry__ as em

    df = em.queries()["turn_integrity"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.sum((~F.col("is_intact")).cast("long")).alias("bad"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert 0 < agg["bad"] < agg["n"]
    broken = df.filter(~F.col("is_intact"))
    assert broken.filter(
        (F.substring(F.md5("conv_id"), 1, 1) != "6")
        | (F.col("n_dup_idx") != 1)
        | (F.col("n_gaps") != 1)
        | (F.col("n_ts_regressions") != 1)
    ).count() == 0


def test_assistant_echo(spark):
    """Golden echo semantics: distinct 5-gram containment against the
    IMMEDIATELY preceding user turn only; assistant-after-assistant is
    not a pair; a sub-5-word response is unmeasurable and emits no
    pair; a sub-5-word prompt yields a measurable pair with zero echo;
    within-turn duplicate grams count once."""
    from engine.spark.agent import assistant_echo

    rows = [
        # conv a
        ("a", 0, "user", "alpha beta gamma delta epsilon zeta", None, _ts(0)),
        ("a", 1, "assistant",
         "alpha beta gamma delta epsilon new words arrive here now",
         None, _ts(1)),  # 6 grams, 1 matches
        ("a", 2, "assistant", "totally different response text here",
         None, _ts(2)),  # prev is assistant -> not a pair
        ("a", 3, "user", "short one", None, _ts(3)),  # no grams as prompt
        ("a", 4, "assistant", "echo echo echo echo echo echo",
         None, _ts(4)),  # 1 distinct gram, 0 matches
        # conv b: verbatim restatement -> echo 1.0
        ("b", 0, "user", "one two three four five six", None, _ts(0)),
        ("b", 1, "assistant", "one two three four five six", None, _ts(1)),
        ("b", 2, "user", "hello there my good friend", None, _ts(2)),
        ("b", 3, "assistant", "ok", None, _ts(3)),  # <5 words -> no pair
        # conv c: no assistant turns -> no row
        ("c", 0, "user", "just a user turn sitting here", None, _ts(0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in assistant_echo(df).collect()}
    assert set(got) == {"a", "b"}
    a = got["a"]
    assert a["n_pairs"] == 2
    assert a["n_grams"] == 7 and a["n_echoed"] == 1
    assert a["echo_rate"] == pytest.approx(round(1 / 7, 6))
    assert a["max_echo"] == pytest.approx(round(1 / 6, 6))
    assert a["n_high_echo"] == 0 and a["has_echo"]
    b = got["b"]
    assert b["n_pairs"] == 1 and b["n_grams"] == 2 and b["n_echoed"] == 2
    assert b["echo_rate"] == 1.0 and b["max_echo"] == 1.0
    assert b["n_high_echo"] == 1 and b["has_echo"]


def test_assistant_echo_entry_planting_not_vacuous(spark):
    """The generator's shared per-kind boilerplate (headers, invoice
    labels) produces natural low-grade echo — real signal the gate
    must keep — but the planted pair (4 of 6 response grams in the
    prompt, hand-counted) is the ONLY high-echo (≥0.5) detection:
    exactly the md5-prefix-'5' conversations trip it, at exactly
    round(4/6, 6)."""
    import __spark_entry__ as em

    df = em.queries()["assistant_echo"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.sum(F.col("has_echo").cast("long")).alias("e"),
        F.sum(F.when(F.col("n_high_echo") > 0, 1).otherwise(0)).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert 0 < agg["e"] < agg["n"]  # the gate splits the corpus
    assert 0 < agg["h"] < agg["e"]  # high-echo is rarer than any-echo
    high = df.filter(F.col("n_high_echo") > 0)
    # every high-echo conv is a planted one, peaking at the planted 4/6
    assert high.filter(
        (F.substring(F.md5("conv_id"), 1, 1) != "5")
        | (F.col("max_echo") != round(4 / 6, 6))
    ).count() == 0


def test_context_fit(spark):
    """Golden prefix-fit: est = max(1, floor(len/4)) (T7), the fit is
    the longest stable-order prefix whose running sum stays within the
    limit, and a first turn that alone exceeds the limit reports a
    zero fit."""
    from engine.spark.agent import context_fit

    rows = [
        # ests 2,2,2 -> cum 2,4,6; limit 5 keeps 2 turns (4 tokens)
        ("a", 0, "user", "aaaaaaaa", None, _ts(0)),
        ("a", 1, "assistant", "bbbbbbbb", None, _ts(1)),
        ("a", 2, "user", "cccccccc", None, _ts(2)),
        # ests 1,1 (the T7 floor of 1) -> cum 1,2; fits whole
        ("b", 0, "user", "", None, _ts(0)),
        ("b", 1, "assistant", "xy", None, _ts(1)),
        # first turn est 10 > 5 -> nothing fits
        ("c", 0, "user", "z" * 40, None, _ts(0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in context_fit(df, limit=5).collect()}
    a = got["a"]
    assert (a["n_turns"], a["total_tokens"]) == (3, 6)
    assert (a["n_turns_fit"], a["tokens_fit"], a["fits"]) == (2, 4, False)
    b = got["b"]
    assert (b["n_turns_fit"], b["tokens_fit"], b["fits"]) == (2, 2, True)
    c = got["c"]
    assert (c["n_turns_fit"], c["tokens_fit"], c["fits"]) == (0, 0, False)


def test_transitions_order_is_stable_under_shuffle(spark):
    """Scattering input rows must not change the transition table —
    the window orders on (turn_idx, ts), never on arrival order."""
    from engine.spark.transcripts import synthesize_transcripts

    base = synthesize_transcripts(spark, 40, 4)
    scattered = synthesize_transcripts(spark, 40, 4, shuffle_rows=True)
    a = sorted(map(tuple, tool_transitions(base).collect()))
    b = sorted(map(tuple, tool_transitions(scattered).collect()))
    assert a == b


def test_dedup_conversations_near(spark):
    """Near-dup conversation pairs: exact copy scores 1.0, a truncated
    copy scores high-but-below, an unrelated conversation pairs with
    nothing — and no conversation text is ever concatenated (the
    operator consumes the per-turn table directly)."""
    from engine.spark.pipeline import dedup_conversations_near

    base = [
        "the quick brown fox jumps over the lazy dog today",
        "distributed systems shuffle data between partitions constantly",
        "window functions order rows within each partition key",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append(("orig", i, t))
        rows.append(("copy", i, t))  # exact copy
        if i < 2:
            rows.append(("trunc", i, t))  # last turn dropped
    rows += [("other", 0, "completely unrelated content about cooking pasta sauces at home")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, cleaned_text string"
    )
    got = {
        (r["conv_a"], r["conv_b"]): r["jaccard"]
        for r in dedup_conversations_near(df, min_jaccard=0.4).collect()
    }
    assert got[("copy", "orig")] == 1.0
    assert 0.4 <= got[("orig", "trunc")] < 1.0
    assert got[("copy", "trunc")] == got[("orig", "trunc")]
    assert not any("other" in k for k in got)


def test_dedup_conversations_near_entry_planting(spark):
    """The contract entry's planted '~near' conversations must be
    found (non-vacuous), as truncated — not exact — copies."""
    import __spark_entry__ as em

    rows = em.queries()["dedup_conversations_near"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    planted = [r for r in rows if r["conv_b"].endswith("~near")]
    assert planted, rows
    assert all(r["jaccard"] < 1.0 for r in planted)
    assert all(r["conv_b"] == r["conv_a"] + "~near" for r in planted)


def test_dedup_apply_conversations_both_arms(spark):
    """Hand-built: an exact copy drops via the fingerprint arm, a
    truncated copy via the near arm, a conversation that is both an
    exact AND near duplicate drops exactly once, and the min-id
    original always survives."""
    from engine.spark.pipeline import dedup_apply_conversations

    turns = [
        ("a0", 0, "the quick brown fox jumps over the lazy dog"),
        ("a0", 1, "distributed systems shuffle data between partitions"),
        ("a1", 0, "the quick brown fox jumps over the lazy dog"),  # exact
        ("a1", 1, "distributed systems shuffle data between partitions"),
        ("a2", 0, "the quick brown fox jumps over the lazy dog"),  # near
        ("b", 0, "completely unrelated cooking content about pasta"),
    ]
    df = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, cleaned_text string"
    )
    got = {
        r["conv_id"]
        for r in dedup_apply_conversations(df, min_jaccard=0.4).collect()
    }
    assert got == {"a0", "b"}


def test_dedup_apply_conversations_entry(spark):
    """Entry planting: every '~dup' drops (exact arm); '~near' copies
    drop when their truncation stays above the threshold (near arm,
    non-vacuous); originals all survive."""
    import __spark_entry__ as em

    rows = em.queries()["dedup_apply_conversations"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    ids = {r["conv_id"] for r in rows}
    assert not any(i.endswith("~dup") for i in ids)
    n_near_surviving = sum(1 for i in ids if i.endswith("~near"))
    # at least one planted near-dup must be caught (most are)
    assert n_near_surviving < 7
    originals = [i for i in ids if "~" not in i]
    assert len(originals) == 120  # originals never dropped


def test_conversation_language_votes(spark):
    """Turn-level marker votes sum per conversation: a conversation
    that is mostly-Spanish with one English turn must come out 'es',
    and marker-free text is 'und'."""
    from engine.spark.agent import conversation_language

    rows = [
        ("m", 0, "el que de la los el que de la"),
        ("m", 1, "el que de los la el que"),
        ("m", 2, "the cat and the dog is to go"),
        ("u", 0, "zzz qqq xyzzy"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, cleaned_text string"
    )
    got = {
        r["conv_id"]: r for r in conversation_language(df).collect()
    }
    assert got["m"]["lang_pred"] == "es"
    assert got["m"]["s_es"] > got["m"]["s_en"] > 0
    assert got["u"]["lang_pred"] == "und"


def test_transcript_curate_near_arm_and_gate(spark):
    """transcript_curate must drop what transcript_prepare keeps: a
    truncated near-duplicate passes exact dedup but not the near arm;
    the token floor gates short conversations; packing invariants hold
    for the survivors."""
    from engine.spark.pipeline import transcript_curate, transcript_prepare

    long_text = "spark shuffles data between partitions constantly " * 8
    turns = [
        ("a0", 0, long_text),
        ("a0", 1, long_text + " extra tail words here"),
        ("a1", 0, long_text),  # truncated near-dup of a0 (first turn)
        ("tiny", 0, "short"),  # fails the token floor
    ]
    df = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, cleaned_text string"
    )
    curated = {
        r["conv_id"]: r
        for r in transcript_curate(df, min_conv_tokens=64).collect()
    }
    prepared = {
        r["conv_id"]
        for r in transcript_prepare(df, min_conv_tokens=64).collect()
    }
    assert "a1" in prepared  # exact dedup alone keeps the near-dup
    assert set(curated) == {"a0"}  # near arm + gate drop a1 and tiny
    assert curated["a0"]["start_tok"] == 0 and curated["a0"]["bin"] == 0


def test_transcript_curate_entry_splits(spark):
    """Entry form: planted '~dup'/'~near' never survive, and the
    256-token floor actually gates some originals (non-vacuous)."""
    import __spark_entry__ as em

    rows = em.queries()["transcript_curate"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    ids = {r["conv_id"] for r in rows}
    assert ids
    # exact copies can never survive; near copies may legitimately
    # survive only when their truncation falls below the Jaccard
    # threshold (identically in both engines) — most must be caught
    assert not any(i.endswith("~dup") for i in ids)
    assert sum(1 for i in ids if i.endswith("~near")) <= 2
    n_originals = sum(1 for i in ids if "~" not in i)
    assert 0 < n_originals < 120  # the token floor gated some originals


def test_transcript_stats_card(spark):
    """Known fixture: exact counts, percentiles, shares."""
    from engine.spark.agent import transcript_stats

    rows = [
        ("a", 0, "user", "x", None),
        ("a", 1, "assistant", "y", "search"),
        ("b", 0, "user", "x", None),
        ("b", 1, "assistant", "y", None),
        ("b", 2, "tool", "z", "sql"),
        ("b", 3, "assistant", "w", None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    r = transcript_stats(df).collect()[0]
    assert r["n_convs"] == 2 and r["n_turns"] == 6
    assert r["avg_turns"] == pytest.approx(3.0)
    assert r["p50_turns"] == pytest.approx(3.0)  # interpolated (2+4)/2
    assert r["max_turns"] == 4
    assert r["tool_call_rate"] == pytest.approx(2 / 6, abs=1e-6)
    assert r["user_share"] == pytest.approx(2 / 6, abs=1e-6)
    assert r["assistant_share"] == pytest.approx(3 / 6, abs=1e-6)


def test_mix_transcripts_flattens_languages(spark):
    """The rarest language keeps everything (rate 1.0); the majority
    language downsamples at (p_min/p_maj)^(1-alpha); the kept set is
    deterministic (same salt → same rows)."""
    import __spark_entry__ as em

    rows = em.queries()["mix_transcripts"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang_pred"], []).append(r)
    assert set(by_lang) >= {"en", "und"}
    assert all(r["rate"] == pytest.approx(1.0) for r in by_lang["und"])
    en_rate = by_lang["en"][0]["rate"]
    assert 0 < en_rate < 1
    # deterministic: a second call returns the identical kept set
    again = em.queries()["mix_transcripts"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_curate_job_main(spark, tmp_path):
    """jobs/curate_job.py end-to-end in-process: synthesize → extract →
    curate → packed table + metrics line; deterministic across runs."""
    import json
    import sys

    sys.path.insert(0, "jobs")
    try:
        import curate_job
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "run")
    rc = curate_job.main(
        ["--synthesize", "60", "--output", out, "--mode", "curate"]
    )
    assert rc == 0
    packed = spark.read.parquet(f"{out}/packed_curate")
    rows = sorted(map(tuple, packed.collect()))
    assert rows
    metrics = json.loads(
        spark.read.text(f"{out}/metrics_curate").collect()[0][0]
    )
    assert metrics["convs_in"] == 60
    assert metrics["convs_packed"] == len(rows)
    # idempotent re-run: identical table
    assert curate_job.main(
        ["--synthesize", "60", "--output", out, "--mode", "curate"]
    ) == 0
    again = sorted(
        map(tuple, spark.read.parquet(f"{out}/packed_curate").collect())
    )
    assert again == rows


def test_curate_job_gate_mode(spark, tmp_path):
    """--mode gate end-to-end: one row per conversation with the keep
    decision. The synthetic corpus is loop-free but NOT all-wellformed
    (the generator naturally emits tool-role turns without a tool
    name), so the gate must drop exactly the malformed conversations;
    a planted looping copy flips keep off. Idempotent re-run."""
    import json
    import sys

    sys.path.insert(0, "jobs")
    try:
        import curate_job
    finally:
        sys.path.pop(0)

    from engine.spark.transcripts import synthesize_transcripts

    out = str(tmp_path / "run")
    rc = curate_job.main(
        ["--synthesize", "40", "--output", out, "--mode", "gate"]
    )
    assert rc == 0
    gated = spark.read.parquet(f"{out}/gate")
    assert gated.count() == 40
    n_malformed = gated.filter(~F.col("is_wellformed")).count()
    assert gated.filter(~F.col("keep")).count() == n_malformed
    metrics = json.loads(
        spark.read.text(f"{out}/metrics_gate").collect()[0][0]
    )
    assert metrics["convs_in"] == 40
    assert metrics["convs_kept"] == 40 - n_malformed > 0
    assert metrics["looping"] == 0
    assert metrics["malformed"] == n_malformed

    # planted loop: triple every turn of one conversation under a new
    # id and feed the table through the gate arm directly
    t = synthesize_transcripts(spark, 40, 4)
    one = t.filter(F.col("conv_id") == t.select("conv_id").first()[0])
    looped = one.withColumn(
        "r", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
    ).select(
        F.concat("conv_id", F.lit("~loop")).alias("conv_id"),
        (F.col("turn_idx") * 4 + F.col("r")).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
    )
    from engine.spark.agent import loop_detect

    flagged = loop_detect(t.unionByName(looped)).filter("is_looping")
    assert flagged.count() == 1
    assert flagged.first()["conv_id"].endswith("~loop")
    # idempotent re-run of the job itself
    assert curate_job.main(
        ["--synthesize", "40", "--output", out, "--mode", "gate"]
    ) == 0
    assert spark.read.parquet(f"{out}/gate").count() == 40

    # empty input (an upstream stage produced nothing): rc 0 and a
    # zeroed metrics line, not a TypeError on the NULL sums
    empty_dir = str(tmp_path / "empty_in")
    spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ).write.mode("overwrite").parquet(f"{empty_dir}/transcripts.parquet")
    out2 = str(tmp_path / "empty_out")
    assert curate_job.main(
        ["--input", empty_dir, "--output", out2, "--mode", "gate"]
    ) == 0
    m = json.loads(spark.read.text(f"{out2}/metrics_gate").collect()[0][0])
    assert m["convs_in"] == 0 and m["convs_kept"] == 0
    assert m["drop_rate"] is None
