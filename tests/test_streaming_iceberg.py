"""Streaming-ingestion drain test + Iceberg gate behavior."""

import pytest
from pyspark.sql import functions as F

from engine.spark.iceberg import iceberg_available
from engine.spark.streaming import stream_extract
from engine.spark.transcripts import synthesize_transcripts


def test_stream_extract_drains_and_matches_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    t = synthesize_transcripts(spark, 8, 3, parallelism=2)
    t.write.mode("overwrite").parquet(in_dir)
    n_in = spark.read.parquet(in_dir).count()

    q = stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=8)
    q.awaitTermination(300)

    res = spark.read.parquet(f"{out_dir}/results")
    assert res.count() == n_in
    assert res.filter(F.col("cleaned_text").isNull()).count() == 0

    # drained stream restarted with no new files → no duplicate rows
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=8)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/results").count() == n_in


def test_iceberg_gate_reports_unavailable_in_sandbox(spark):
    # no iceberg runtime jar in this container: the gate must say so
    # (rather than exploding later inside DDL)
    assert iceberg_available(spark) is False


def test_iceberg_ddl_matches_job_schemas(spark):
    """The Iceberg tables' column lists are the schemas the parquet job
    writes: run_extraction's columns, job.METRICS_SCHEMA, and
    job.CHECKPOINT_SCHEMA plus the snapshot_id lineage pointer. Plain
    Spark DDL, so no Iceberg jar is needed to check them."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine.spark import iceberg
    from engine.spark.job import CHECKPOINT_SCHEMA, METRICS_SCHEMA
    from engine.spark.pipeline import run_extraction

    columns = iceberg.table_columns(spark)
    results = run_extraction(synthesize_transcripts(spark, 2, 2), num_partitions=2)
    ddl = T.StructType.fromDDL(columns[iceberg.RESULTS_TABLE])
    assert ddl.names == results.columns and len(ddl.names) == 38
    assert [f.dataType.simpleString() for f in ddl] == [
        f.dataType.simpleString() for f in results.schema
    ]

    def arrow_fields(table):
        return [(f.name, f.type) for f in to_arrow_schema(T.StructType.fromDDL(columns[table]))]

    assert arrow_fields(iceberg.METRICS_TABLE) == [(f.name, f.type) for f in METRICS_SCHEMA]
    assert "wall_s" in METRICS_SCHEMA.names
    assert arrow_fields(iceberg.CHECKPOINT_TABLE) == [
        (f.name, f.type) for f in CHECKPOINT_SCHEMA
    ] + [("snapshot_id", pa.int64())]


def test_stream_quality_drift_watermark_late_data(spark, tmp_path_factory):
    """Watermarked streaming drift: a late turn within the watermark
    lands in its (already-open) window; the window emits exactly once,
    after a later event pushes the watermark past its end."""
    import datetime as dt

    from engine.spark.streaming import stream_quality_drift

    base = tmp_path_factory.mktemp("drift_stream")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    t0 = dt.datetime(2026, 1, 5, 12, 0, 0)

    def rows(times, tag):
        return [
            (f"conv-{tag}-{i}", 0, "user",
             f"turn {tag} {i} with enough words to clean and score fine",
             None, ts)
            for i, ts in enumerate(times)
        ]

    sch = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    # batch 1: five turns inside window [12:00, 12:10)
    spark.createDataFrame(
        rows([t0 + dt.timedelta(minutes=m) for m in (1, 2, 3, 4, 5)], "a"),
        sch,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_quality_drift(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(300)
    # watermark is still inside the window → nothing finalized yet
    import glob
    emitted = glob.glob(f"{out_dir}/drift/*.parquet")
    n_emitted = (
        spark.read.parquet(f"{out_dir}/drift").count() if emitted else 0
    )
    assert n_emitted == 0

    # batch 2: one LATE turn (12:02, same window) + one far-future turn
    # that advances the watermark past the first window's end
    spark.createDataFrame(
        rows([t0 + dt.timedelta(minutes=2)], "late")
        + rows([t0 + dt.timedelta(hours=3)], "future"),
        sch,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_quality_drift(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    drift = spark.read.parquet(f"{out_dir}/drift").collect()
    first = [r for r in drift if r.window_start == t0]
    assert first, f"first window not emitted: {drift}"
    # the late row was merged into the open window before it closed
    assert sum(r.n_turns for r in first) == 6
    # the future window is still open (watermark has not passed it)
    assert all(r.window_start == t0 for r in drift)


def test_stream_conversation_state_accumulates(spark, tmp_path_factory):
    """applyInPandasWithState: per-conversation rollup state must
    persist across separate drains — a conversation whose turns arrive
    in two batches ends with ONE cumulative total, and the final
    snapshot equals the batch rollup over all its turns."""
    from engine.spark.pipeline import conversation_rollup, run_extraction
    from engine.spark.streaming import stream_conversation_state
    from engine.spark.transcripts import synthesize_transcripts

    base = tmp_path_factory.mktemp("conv_state")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    t = synthesize_transcripts(spark, 6, 4, parallelism=2)
    # split each conversation's turns across two arrivals
    first = t.filter(F.col("turn_idx") < 2)
    second = t.filter(F.col("turn_idx") >= 2)
    first.coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_conversation_state(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(300)
    second.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_conversation_state(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    # last snapshot per conversation == batch rollup over ALL turns
    snaps = spark.read.parquet(f"{out_dir}/conv_state")
    latest = {
        r.conv_id: r
        for r in snaps.orderBy("n_turns").collect()  # cumulative → max last
    }
    expected = {
        r.conv_id: r
        for r in conversation_rollup(run_extraction(t, num_partitions=4)).collect()
    }
    assert latest.keys() == expected.keys()
    for cid, exp in expected.items():
        got = latest[cid]
        assert got.n_turns == exp.n_turns, cid
        assert got.bytes_in == exp.bytes_in, cid
        assert got.n_empty == exp.n_empty, cid
        assert got.tokens == exp.tokens, cid
        assert got.max_quality_score == exp.max_quality_score, cid
    # both arrivals produced a snapshot: more rows than conversations
    assert snaps.count() > len(expected)


def test_stream_loop_state_matches_batch_across_drains(
    spark, tmp_path_factory
):
    """applyInPandasWithState loop detection: a run of identical
    actions that SPANS the arrival split must still count as one run
    (state carries the last signature across drains), and every final
    snapshot must equal agent.loop_detect over the full input."""
    import datetime as dt

    from engine.spark.agent import loop_detect
    from engine.spark.streaming import stream_loop_state
    from engine.spark.transcripts import synthesize_transcripts

    base = tmp_path_factory.mktemp("loop_state")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    ts0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    planted = spark.createDataFrame(
        [
            # 6 identical turns: 0-2 arrive in batch 1, 3-5 in batch 2
            ("~planted", i, "assistant", "same text", "search",
             ts0 + dt.timedelta(seconds=i))
            for i in range(6)
        ]
        + [("~planted", 6, "assistant", "done", None,
            ts0 + dt.timedelta(seconds=6))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    t = synthesize_transcripts(spark, 6, 4, parallelism=2).unionByName(
        planted
    )
    first = t.filter(F.col("turn_idx") < 3)
    second = t.filter(F.col("turn_idx") >= 3)
    first.coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_loop_state(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(300)
    # after batch 1 the planted run is only 3 long
    mid = {
        r.conv_id: r
        for r in spark.read.parquet(f"{out_dir}/loop_state").collect()
    }
    assert mid["~planted"].max_run == 3
    second.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_loop_state(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    snaps = spark.read.parquet(f"{out_dir}/loop_state")
    latest = {
        r.conv_id: r for r in snaps.orderBy("n_turns").collect()
    }
    expected = {r.conv_id: r for r in loop_detect(t).collect()}
    assert latest.keys() == expected.keys()
    for cid, exp in expected.items():
        got = latest[cid]
        assert got.n_turns == exp.n_turns, cid
        assert got.max_run == exp.max_run, cid
        assert got.is_looping == exp.is_looping, cid
    # the boundary-spanning run: 6, not max(3, 3)
    assert latest["~planted"].max_run == 6
    assert latest["~planted"].is_looping


def test_stream_dedup_exact_drops_cross_batch_duplicates(spark, tmp_path_factory):
    """Streaming exact dedup: within-batch and cross-drain duplicates
    of the same content are dropped (state survives via checkpoint);
    fresh content always passes."""
    import datetime as dt

    from engine.spark.streaming import stream_dedup_exact

    base = tmp_path_factory.mktemp("sdedup")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [
        (0, "alpha body", t0),
        (1, "beta body", t0),
        (2, "alpha body", t0),  # within-batch duplicate of doc 0
    ]
    spark.createDataFrame(
        rows1, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_dedup_exact(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(300)

    got1 = spark.read.parquet(f"{out_dir}/deduped")
    assert got1.count() == 2
    assert {r.text for r in got1.collect()} == {"alpha body", "beta body"}

    # second drain: repeats within the watermark horizon + new content
    rows2 = [
        (3, "alpha body", t0 + dt.timedelta(minutes=5)),   # cross-drain dup
        (4, "gamma body", t0 + dt.timedelta(minutes=5)),   # fresh
    ]
    spark.createDataFrame(
        rows2, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_dedup_exact(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    got2 = spark.read.parquet(f"{out_dir}/deduped")
    assert got2.count() == 3
    texts = sorted(r.text for r in got2.collect())
    assert texts == ["alpha body", "beta body", "gamma body"]


def test_stream_decontaminate_matches_batch(spark, tmp_path_factory):
    """Ingest-time decontamination: an exact 13-gram leak and a fuzzily
    edited leak are both dropped AT ARRIVAL across two separate drains,
    clean docs pass, and the streamed survivor set equals the batch run
    over the union (microbatch boundaries provably invisible)."""
    import datetime as dt

    from engine.spark.analytics import (
        decontaminate_batch,
        decontaminate_fuzzy_batch,
    )
    from engine.spark.streaming import stream_decontaminate

    base = tmp_path_factory.mktemp("sdecon")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))

    bench = " ".join(f"bench{i}" for i in range(30))
    words = [f"word{i}" for i in range(100)]
    edited = list(words)
    for pos in range(7, 100, 12):
        edited[pos] = f"swap{pos}"
    ev = spark.createDataFrame(
        [(1000, " ".join(words)), (1001, bench)],
        "doc_id long, text string",
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [
        (0, "lead " + bench + " tail", t0),              # exact leak
        (1, " ".join(f"other{i}" for i in range(60)), t0),  # clean
    ]
    rows2 = [
        (2, " ".join(edited), t0),                       # fuzzy leak
        (3, " ".join(f"more{i}" for i in range(50)), t0),   # clean
    ]
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = stream_decontaminate(spark, in_dir, ev, out_dir, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q2 = stream_decontaminate(spark, in_dir, ev, out_dir, ckpt)
    q2.awaitTermination(300)

    streamed = {r.doc_id for r in spark.read.parquet(f"{out_dir}/clean").collect()}
    assert streamed == {1, 3}

    # equivalence with the batch path over the full corpus
    allrows = spark.createDataFrame(rows1 + rows2, schema).drop("ts")
    exact = decontaminate_batch(allrows, ev)
    fuzzy = decontaminate_fuzzy_batch(allrows, ev)
    batch_keep = {r.doc_id for r in exact.join(fuzzy, "doc_id").collect()}
    assert streamed == batch_keep


def test_stream_quality_filter_matches_batch(spark, tmp_path_factory):
    """Ingest-time model-based quality filtering: documents scored by
    the persisted linear classifier AT ARRIVAL across two drains —
    good docs (trained-on 'goodword' signal) pass, bad and zero-vector
    docs drop, and the streamed survivor set equals the batch scoring
    run over the union (stateless ⇒ microbatch boundaries invisible).
    Also pins quality_score_vecs == quality_score_served byte-for-byte
    (the literal-weights streaming form vs the crossJoin serve form)."""
    import datetime as dt

    from engine.spark.analytics import (
        hash_embed_vectors,
        quality_score_served,
        quality_score_vecs,
        quality_train,
    )
    from engine.spark.streaming import stream_quality_filter

    base = tmp_path_factory.mktemp("squal")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ckpt"))

    # train on a planted rule: docs containing 'goodword' are good
    train_rows = []
    for i in range(120):
        good = i % 2 == 0
        filler = f"tok{i % 5} tok{i % 7} filler words here"
        train_rows.append(
            (i, ("goodword " + filler) if good else filler, int(good))
        )
    tdocs = spark.createDataFrame(
        [(i, t) for i, t, _ in train_rows], "doc_id long, text string"
    )
    tlabels = spark.createDataFrame(
        [(i, y) for i, _, y in train_rows], "vec_id long, label int"
    )
    tvecs = hash_embed_vectors(tdocs)
    wvec = quality_train(tvecs, tlabels)
    wpath = str(base / "qw")
    spark.createDataFrame([(wvec,)], "wvec array<double>").coalesce(
        1
    ).write.parquet(wpath)

    # parity of the two scoring forms over the training vectors
    vpath = str(base / "hv")
    tvecs.write.parquet(vpath)
    served = sorted(
        tuple(r) for r in quality_score_served(spark, vpath, wpath).collect()
    )
    lit = sorted(
        tuple(r)
        for r in quality_score_vecs(
            spark.read.parquet(vpath), wvec
        ).collect()
    )
    assert served == lit

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows1 = [
        (1000, "goodword tok1 tok2 filler words here", t0),   # good
        (1001, "tok1 tok2 filler words here", t0),            # bad
    ]
    rows2 = [
        (1002, "goodword tok3 tok4 filler words here", t0),   # good
        (1003, "   ", t0),                                    # zero vector
    ]
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = stream_quality_filter(spark, in_dir, wpath, out_dir, ckpt)
    q.awaitTermination(300)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q2 = stream_quality_filter(spark, in_dir, wpath, out_dir, ckpt)
    q2.awaitTermination(300)

    streamed = {
        r.doc_id for r in spark.read.parquet(f"{out_dir}/clean").collect()
    }
    assert streamed == {1000, 1002}

    # equivalence with the batch scoring path over the union
    allrows = spark.createDataFrame(rows1 + rows2, schema).drop("ts")
    batch_keep = {
        r.vec_id
        for r in quality_score_vecs(hash_embed_vectors(allrows), wvec)
        .filter("pred_keep")
        .collect()
    }
    assert streamed == batch_keep
