"""Spark-side gate: per-turn equality vs the single-node oracle under
stable (conv_id, turn_idx, ts) ordering (the north rule), salted-skew
partitioning sanity, native==kernel expression parity, checkpoint
resume, and parallelism-invariance of the synthesizer."""

import json
import os

import pytest
from pyspark.sql import functions as F

from engine.kernel.transcript import extract_turn
from engine.spark.pipeline import (
    conversation_rollup,
    part_expr,
    run_extraction,
    with_stable_order,
)
from engine.spark.transcripts import synthesize_transcripts

N_CONVS = 24
SCALE_TURNS = 4


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthesize_transcripts(spark, N_CONVS, SCALE_TURNS, parallelism=4).persist()


@pytest.fixture(scope="module")
def results(spark, transcripts):
    return run_extraction(transcripts, num_partitions=8).persist()


def test_per_turn_equality_vs_oracle(transcripts, results):
    """THE gate: Spark output == kernel oracle, keyed by stable order."""
    inputs = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
    }
    got = results.select(
        "conv_id", "turn_idx", "cleaned_text", "spans", "doc_type",
        "fields_json", "overall_confidence", "n_chunks",
    ).collect()
    assert len(got) == len(inputs)
    mismatches = 0
    for row in got:
        oracle = extract_turn(inputs[(row.conv_id, row.turn_idx)])
        assert row.cleaned_text == oracle["cleaned_text"], (row.conv_id, row.turn_idx)
        spark_spans = [
            # bracket access: Row.index shadows the namedtuple method
            (s["content"], s["index"], s["start_char"], s["end_char"], s["estimated_tokens"])
            for s in row.spans
        ]
        oracle_spans = [
            (s["content"], s["index"], s["start_char"], s["end_char"], s["estimated_tokens"])
            for s in oracle["spans"]
        ]
        assert spark_spans == oracle_spans
        assert row.doc_type == oracle["doc_type"]
        assert json.loads(row.fields_json) == json.loads(oracle["fields_json"])
        assert row.overall_confidence == pytest.approx(oracle["overall_confidence"])
    assert mismatches == 0


def test_stable_ordering_window(transcripts):
    ordered = with_stable_order(transcripts)
    rows = ordered.filter(F.col("conv_id") == "conv-000000001").orderBy("turn_seq").collect()
    assert [r.turn_seq for r in rows] == list(range(1, len(rows) + 1))
    assert [r.turn_idx for r in rows] == sorted(r.turn_idx for r in rows)


def test_salted_partitioning_splits_mega_thread(spark, transcripts):
    # conv index 0 is the mega-thread; with a small skew block it must
    # span multiple partitions
    parts = (
        transcripts.filter(F.col("conv_id") == "conv-000000000")
        .withColumn("p", part_expr(8, skew_block=16))
        .select("p").distinct().count()
    )
    assert parts > 1
    # and the partition id is a pure function of the key (stable on recompute)
    a = transcripts.withColumn("p", part_expr(8)).groupBy("p").count().collect()
    b = transcripts.withColumn("p", part_expr(8)).groupBy("p").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_native_expressions_match_kernel(results):
    # T7 parity: native greatest(1, floor(len/4)) == kernel estimated_tokens
    bad = results.filter(
        (F.col("cleaned_length") > 0)
        & (F.col("estimated_tokens_native") != F.col("estimated_tokens"))
    ).count()
    assert bad == 0
    # span token sum equals aggregate over kernel spans
    bad2 = results.filter(
        F.col("span_token_sum")
        != F.aggregate("spans", F.lit(0), lambda a, s: a + s["estimated_tokens"])
    ).count()
    assert bad2 == 0


def test_synthesizer_parallelism_invariant(spark):
    """Same table at 1 and 4 partitions — partitioning must not leak
    into content (the property that makes N vs 4N scaling comparable)."""
    a = synthesize_transcripts(spark, 6, 3, parallelism=1)
    b = synthesize_transcripts(spark, 6, 3, parallelism=4)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0


def test_conversation_rollup_counts(transcripts, results):
    roll = {r.conv_id: r for r in conversation_rollup(results).collect()}
    truth = {
        r.conv_id: r["count"]
        for r in transcripts.groupBy("conv_id").count().collect()
    }
    assert {k: v.n_turns for k, v in roll.items()} == truth
    assert all(v.bytes_in > 0 for v in roll.values())


def test_checkpointed_job_survives_static_overwrite_conf(spark, transcripts, tmp_path_factory):
    """Regression: a vanilla spark-submit session defaults to STATIC
    partitionOverwriteMode, which made each slice commit wipe previous
    slices (caught driving jobs/extract_job.py). run_checkpointed must
    force dynamic mode itself."""
    from engine.spark.job import run_checkpointed

    out = str(tmp_path_factory.mktemp("static_conf"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        res = run_checkpointed(spark, transcripts, out, num_partitions=8)
        assert res.count() == transcripts.count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_shuffled_input_same_results_under_stable_order(spark):
    """FIXTURES §1: rows arrive in scattered order — results keyed by
    (conv_id, turn_idx) must be identical to the ordered run."""
    ordered = synthesize_transcripts(spark, 8, 3, parallelism=2)
    shuffled = synthesize_transcripts(spark, 8, 3, parallelism=2, shuffle_rows=True)
    a = {
        (r.conv_id, r.turn_idx): r.cleaned_text
        for r in run_extraction(ordered, num_partitions=4)
        .select("conv_id", "turn_idx", "cleaned_text").collect()
    }
    b = {
        (r.conv_id, r.turn_idx): r.cleaned_text
        for r in run_extraction(shuffled, num_partitions=4)
        .select("conv_id", "turn_idx", "cleaned_text").collect()
    }
    assert a == b


def test_duplicate_ts_ties_broken_by_turn_idx(spark):
    t = synthesize_transcripts(spark, 4, 4, parallelism=2)
    # generator quantizes ts per turn pair → duplicates exist
    dups = (
        t.groupBy("conv_id", "ts").count().filter(F.col("count") > 1).count()
    )
    assert dups > 0
    ordered = with_stable_order(t)
    rows = ordered.filter(F.col("conv_id") == "conv-000000001").orderBy("turn_seq").collect()
    assert [r.turn_idx for r in rows] == sorted(r.turn_idx for r in rows)


def test_checkpoint_resume(spark, transcripts, tmp_path_factory):
    """Kill after 1 committed slice → resume → identical final table."""
    from engine.spark.job import run_checkpointed

    out_a = str(tmp_path_factory.mktemp("ckpt_a"))
    out_b = str(tmp_path_factory.mktemp("ckpt_b"))

    # one-shot reference run
    ref = run_checkpointed(spark, transcripts, out_a, num_partitions=8)
    ref_rows = {
        (r.conv_id, r.turn_idx): r.cleaned_text
        for r in ref.select("conv_id", "turn_idx", "cleaned_text").collect()
    }

    # crashed run: commits 1 of 4 slices then dies
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, transcripts, out_b, num_partitions=8, fail_after_batches=1
        )
    done_after_crash = spark.read.parquet(f"{out_b}/checkpoints").count()
    assert 0 < done_after_crash < 8

    # resume: finishes only the remaining partitions
    res = run_checkpointed(spark, transcripts, out_b, num_partitions=8)
    res_rows = {
        (r.conv_id, r.turn_idx): r.cleaned_text
        for r in res.select("conv_id", "turn_idx", "cleaned_text").collect()
    }
    assert res_rows == ref_rows

    # metrics table materialized with per-partition throughput
    metrics = spark.read.parquet(f"{out_b}/metrics")
    assert metrics.filter(F.col("turns_per_sec") > 0).count() > 0
    # lineage manifests exist for completed partitions
    import glob
    assert len(glob.glob(f"{out_b}/manifests/part-*.json")) > 0

    # re-running a completed run is a no-op returning the same table
    again = run_checkpointed(spark, transcripts, out_b, num_partitions=8)
    assert again.count() == len(ref_rows)


# multi-chunk turns (> 12,000 cleaned chars): the chunker strips each
# chunk, so a rebuilt span must strip too; U+3000 is whitespace to
# str.strip() and not to Spark's plain trim
LONG_TURNS = [
    "The quick brown fox jumps over the lazy dog. " * 4000,
    "\u3000".join(f"word{i}" for i in range(6000)),
    ", , ,, ".join(["alpha beta"] * 3000),
]


def test_narrow_spans_reconstruct_losslessly(spark):
    """span_content=False + with_span_content == span_content=True ==
    the kernel's spans, byte-for-byte, on all payload families and on
    multi-chunk turns."""
    from engine.spark.pipeline import PY_WHITESPACE, run_extraction, with_span_content
    from engine.spark.schemas import TRANSCRIPT_SCHEMA
    from engine.spark.transcripts import synthesize_transcripts

    assert set(PY_WHITESPACE) == {chr(c) for c in range(0x110000) if chr(c).isspace()}
    long = spark.createDataFrame(
        [(f"long-{i}", 0, "user", text, None, None) for i, text in enumerate(LONG_TURNS)],
        TRANSCRIPT_SCHEMA,
    )
    t = synthesize_transcripts(spark, 40, 4).unionByName(long)
    full = run_extraction(t, num_partitions=8)
    narrow = with_span_content(
        run_extraction(t, num_partitions=8, span_content=False)
    )

    def span_tuples(spans):
        return [
            (s["content"], s["index"], s["start_char"], s["end_char"],
             s["estimated_tokens"])
            for s in spans
        ]

    def span_map(df):
        return {
            (r.conv_id, r.turn_idx): span_tuples(r.spans)
            for r in df.select("conv_id", "turn_idx", "spans").collect()
        }

    a, b = span_map(full), span_map(narrow)
    assert a.keys() == b.keys() and len(a) > 0
    for k in a:
        assert a[k] == b[k], k
    for i, text in enumerate(LONG_TURNS):
        want = span_tuples(extract_turn(text)["spans"])
        assert len(want) > 1
        assert b[(f"long-{i}", 0)] == want, i


def test_quality_drift_windows(results):
    from engine.spark.monitor import quality_drift

    drift = quality_drift(results, window="1 day").collect()
    assert drift, "no drift windows"
    total = sum(r.n_turns for r in drift)
    assert total == results.count()
    for r in drift:
        assert r.window_start < r.window_end
        assert 0.0 <= r.empty_rate <= 1.0
        assert r.quality_bucket in ("excellent", "good", "acceptable", "poor")


def test_metrics_summary_after_job(spark, transcripts, tmp_path_factory):
    from engine.spark.job import run_checkpointed
    from engine.spark.monitor import metrics_summary

    out = str(tmp_path_factory.mktemp("monitor_job"))
    run_checkpointed(spark, transcripts, out, run_id="mon-1", num_partitions=8)
    row = metrics_summary(spark, out).collect()[0]
    assert row.run_id == "mon-1"
    assert row.total_turns == transcripts.count()
    assert row.n_partitions >= 1
    assert 0.0 <= row.empty_rate <= 1.0
    assert row.partition_skew_ratio >= 1.0


def test_noshuffle_falls_back_on_coarse_layout(spark, tmp_path_factory):
    """repartition=False must not let a fat-file source cap the stage:
    a single-file table (1 scan split < slots) silently falls back to
    the salted shuffle, and results equal the salted path either way."""
    from engine.spark.pipeline import run_extraction
    from engine.spark.transcripts import synthesize_transcripts

    out = str(tmp_path_factory.mktemp("coarse")) + "/t"
    synthesize_transcripts(spark, 40, 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    t = spark.read.parquet(out)
    assert t.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    res = run_extraction(t, num_partitions=8, repartition=False)
    # fallback engaged: the stage runs over the salted repartition, so
    # its parallelism is the requested partition count, not 1
    assert res.rdd.getNumPartitions() == 8
    a = {(r.conv_id, r.turn_idx): r.cleaned_text
         for r in res.select("conv_id", "turn_idx", "cleaned_text").collect()}
    b = {(r.conv_id, r.turn_idx): r.cleaned_text
         for r in run_extraction(t, num_partitions=8)
         .select("conv_id", "turn_idx", "cleaned_text").collect()}
    assert a == b and len(a) > 0


def test_bench_layout_feeds_wide_stages(spark):
    """Layout guard: the bench's materialized input must scan as FULL
    task waves at the widest leg (24 slots) under the bench's 4 MB
    split bins — at least 4 waves and an even division. Round 3 found
    the 64-file/16 MB-bin layout silently packed into 32 tasks = 2
    waves, idling 1/3 of the wide leg's slots and deflating the
    measured N->4N efficiency to 0.59 in a clean window; round 4's A/B
    found 192 sub-MB files cost ~15% per-file overhead, hence layout
    v4: 96 files = 4 even waves (BENCH/BASELINE.md §2)."""
    import bench

    path = bench._materialize_inputs(spark, "/root/testdata/sf0.001", 300)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    try:
        parts = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert parts >= 4 * 24
    assert parts % 24 == 0  # even waves: no ragged last wave at 24 slots


def test_partitioned_sink_prunes_on_part_id(spark, transcripts, tmp_path_factory):
    """The job's partitionBy('part_id') layout must give partition
    pruning on reads: a part_id filter appears as PartitionFilters in
    the scan (directory-level skip — at 100 TB a single-partition read
    touches 1/N of the files, not a post-scan filter)."""
    from engine.spark.job import run_checkpointed

    out = str(tmp_path_factory.mktemp("prune_job"))
    run_checkpointed(spark, transcripts, out, run_id="prune-1", num_partitions=8)
    res = spark.read.parquet(f"{out}/results")
    one = res.filter(F.col("part_id") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part_id" in plan or \
           "PartitionFilters: [(part_id" in plan or \
           ("PartitionFilters" in plan and "part_id" in plan.split("PartitionFilters")[1][:120]), plan[:800]
    # and the filtered read returns exactly that partition's rows
    assert one.count() == res.filter("part_id = 3").count()
    assert one.select("part_id").distinct().collect()[0][0] == 3


def test_ordered_export_global_file_order(spark, tmp_path_factory):
    """ordered_export: part files read in NAME order yield the full
    (conv_id, turn_idx, ts) global order; no rows lost or duplicated;
    a conversation larger than any single partition splits across
    consecutive files (no pinned task)."""
    import glob
    import os

    from engine.spark.pipeline import ordered_export

    out = str(tmp_path_factory.mktemp("ordered_sink") / "t")
    # 6 normal conversations + one 400-turn "mega" thread, 16 ranges →
    # the mega-thread must span multiple partitions
    normal = synthesize_transcripts(spark, 6, 2, parallelism=2)
    mega = synthesize_transcripts(spark, 1, 100, parallelism=2).withColumn(
        "conv_id", F.lit("conv-mega")
    )
    t = normal.unionByName(mega.select(*normal.columns))
    n_in = t.count()
    n_mega = mega.count()
    ordered_export(t, out, num_partitions=16)

    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert len(files) > 1
    keys = []
    per_file_mega = []
    for f in files:
        rows = spark.read.parquet(f).collect()
        keys += [(r.conv_id, r.turn_idx, r.ts) for r in rows]
        per_file_mega.append(
            sum(1 for r in rows if r.conv_id == "conv-mega")
        )
    assert len(keys) == n_in
    assert keys == sorted(keys)          # global order across file names
    mega_total = sum(per_file_mega)
    assert mega_total == n_mega
    # the mega thread split across >1 file and no file owns it all
    assert sum(1 for c in per_file_mega if c > 0) > 1
    assert max(per_file_mega) < mega_total


METRICS_DDL = (
    "run_id string, part_id int, n_turns bigint, bytes_parsed bigint, "
    "n_empty bigint, empty_rate double, turns_per_sec double, wall_s double"
)
CHECKPOINT_DDL = "run_id string, part_id int, status string, n_turns bigint"


def _ddl(df) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def _by_key(df) -> dict:
    return {
        (r.conv_id, r.turn_idx): r.cleaned_text
        for r in df.select("conv_id", "turn_idx", "cleaned_text").collect()
    }


def test_resume_extracts_only_unfinished_partitions(spark, transcripts, tmp_path_factory, monkeypatch):
    """The resume leg sends only the rows of partitions still to do
    through the extraction; re-running a completed run extracts nothing."""
    from engine.spark import job
    from engine.spark.pipeline import split_valid

    inputs = []
    real = job.run_extraction

    def spy(df, **kw):
        inputs.append(df)
        return real(df, **kw)

    monkeypatch.setattr(job, "run_extraction", spy)
    out = str(tmp_path_factory.mktemp("resume_todo"))
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_checkpointed(spark, transcripts, out, num_partitions=8, fail_after_batches=1)
    done = job._completed_parts(f"{out}/checkpoints", "run-1")
    todo = [p for p in range(8) if p not in done]
    assert done and todo

    inputs.clear()
    res = job.run_checkpointed(spark, transcripts, out, num_partitions=8)
    assert len(inputs) == 1
    valid = split_valid(transcripts)[0]
    want = valid.filter(part_expr(8).isin(todo)).count()
    assert inputs[0].count() == want < valid.count()
    assert res.count() == transcripts.count()

    inputs.clear()
    job.run_checkpointed(spark, transcripts, out, num_partitions=8)
    assert inputs == []


def test_commit_records_schema_temp_files_and_spark_written_mix(
    spark, transcripts, results, tmp_path_factory
):
    """Checkpoint/metrics files the job writes with pyarrow read back in
    Spark with the column types Spark itself wrote for them; hidden temp
    files are ignored by the resume and by Spark; and a checkpoint dir
    that mixes Spark-written records (older versions of the job) with
    pyarrow-written ones resumes to the one-shot result."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.spark.job import CHECKPOINT_SCHEMA, _completed_parts, run_checkpointed

    out = str(tmp_path_factory.mktemp("records"))
    ckpt, metrics = f"{out}/checkpoints", f"{out}/metrics"
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, transcripts, out, num_partitions=8, fail_after_batches=2)
    assert _ddl(spark.read.parquet(ckpt)) == CHECKPOINT_DDL
    assert _ddl(spark.read.parquet(metrics)) == METRICS_DDL
    done = _completed_parts(ckpt, "run-1")
    assert len(done) == 4

    # re-write the first slice's records the way older versions did
    for table, ddl in ((ckpt, CHECKPOINT_DDL), (metrics, METRICS_DDL)):
        first = sorted(glob.glob(f"{table}/part-*.parquet"))[0]
        rows = [tuple(r.values()) for r in pq.read_table(first).to_pylist()]
        os.remove(first)
        spark.createDataFrame(rows, ddl).write.mode("append").parquet(table)
        assert _ddl(spark.read.parquet(table)) == ddl
    assert _completed_parts(ckpt, "run-1") == done

    # a temp file left by a crash mid-write, claiming every partition
    stray = pa.Table.from_pylist(
        [{"run_id": "run-1", "part_id": p, "status": "done", "n_turns": 0} for p in range(8)],
        schema=CHECKPOINT_SCHEMA,
    )
    pq.write_table(stray, f"{ckpt}/.part-stray.parquet.tmp")
    assert _completed_parts(ckpt, "run-1") == done
    assert spark.read.parquet(ckpt).count() == len(done)

    res = run_checkpointed(spark, transcripts, out, num_partitions=8)
    assert _by_key(res) == _by_key(results)
    assert _completed_parts(ckpt, "run-1") == set(range(8))
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 8 and ck.select("part_id").distinct().count() == 8


def test_metrics_count_each_partition_once(spark, transcripts, results, tmp_path_factory):
    """A slice whose metrics were committed twice (crash between its
    metrics and checkpoint writes, then a resume) and a second run in the
    same output dir must not inflate one run's totals."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.spark.job import METRICS_SCHEMA, run_checkpointed
    from engine.spark.monitor import metrics_summary, run_totals

    out = str(tmp_path_factory.mktemp("metrics_dup"))
    run_checkpointed(spark, transcripts, out, run_id="dup-1", num_partitions=8)
    metrics = f"{out}/metrics"
    replayed = next(
        p for p in sorted(glob.glob(f"{metrics}/part-*.parquet"))
        if pq.read_metadata(p).num_rows > 0
    )
    shutil.copy(replayed, f"{metrics}/part-replayed.parquet")
    other = {
        "run_id": "dup-2", "part_id": 0, "n_turns": 1000, "bytes_parsed": 10**6,
        "n_empty": 0, "empty_rate": 0.0, "turns_per_sec": 1.0, "wall_s": 1.0,
    }
    pq.write_table(pa.Table.from_pylist([other], schema=METRICS_SCHEMA), f"{metrics}/part-other.parquet")

    raw = spark.read.parquet(metrics).filter(F.col("run_id") == "dup-1").count()
    parts = results.select("part_id").distinct().count()
    assert raw > parts
    summary = {r.run_id: r for r in metrics_summary(spark, out).collect()}
    assert summary["dup-1"].n_partitions == parts
    assert summary["dup-1"].total_turns == transcripts.count()
    assert summary["dup-2"].total_turns == 1000

    truth = results.agg(
        F.count("*"), F.sum("bytes_in"), F.sum(F.col("is_empty").cast("long"))
    ).collect()[0]
    assert run_totals(spark, out, "dup-1") == {
        "turns_processed": truth[0],
        "bytes_parsed": truth[1],
        "empty_extractions": truth[2],
    }


@pytest.mark.parametrize("n", [8, 16])
def test_salted_layout_one_part_id_per_task(spark, transcripts, monkeypatch, n):
    """After run_extraction's salted repartition, part_id p sits in
    Spark partition p: one part_id per task, and no task is empty when
    every part_id occurs (hashing part_id again left ~40% empty)."""
    from engine.spark import pipeline

    seen = []
    real = pipeline.extract_turns

    def spy(df, **kw):
        seen.append(df)
        return real(df, **kw)

    monkeypatch.setattr(pipeline, "extract_turns", spy)
    pipeline.run_extraction(transcripts, num_partitions=n, skew_block=1)
    (salted,) = seen
    assert salted.rdd.getNumPartitions() == n
    rows = salted.select(
        part_expr(n, skew_block=1).alias("part_id"),
        F.spark_partition_id().alias("pid"),
    ).collect()
    assert {r.part_id for r in rows} == set(range(n))  # every part_id occurs
    assert all(r.pid == r.part_id for r in rows)
    per_task = salted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    assert sorted(r.pid for r in per_task) == list(range(n))


def _with_malformed(spark, transcripts):
    """transcripts plus four malformed rows: two null texts on real
    conv_ids, a null conv_id and a null turn_idx. Returns (df, 4)."""
    from pyspark.sql import types as T

    from engine.spark.schemas import TRANSCRIPT_SCHEMA

    loose = T.StructType([T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields])
    base = transcripts.orderBy("conv_id", "turn_idx").limit(3).collect()
    bad = [
        (base[0].conv_id, 10_000, "user", None, None, base[0].ts),
        (base[1].conv_id, 10_001, "user", None, None, base[1].ts),
        (None, 3, "user", "orphan", None, base[2].ts),
        (base[2].conv_id, None, "user", "no index", None, base[2].ts),
    ]
    return transcripts.union(spark.createDataFrame(bad, loose)), len(bad)


def _errors(spark, out):
    return sorted(
        (tuple(r) for r in spark.read.parquet(f"{out}/errors")
         .select("conv_id", "turn_idx", "error").collect()),
        key=repr,
    )


def _part_files(path):
    return {n for n in os.listdir(path) if n.startswith("part-")}


def test_resume_keeps_errors_table(spark, transcripts, tmp_path_factory):
    """A resume leg does not rewrite the errors table: after a crash and
    resume it keeps the first leg's files and every malformed row,
    once, and equals a one-shot run's."""
    from engine.spark.job import run_checkpointed

    raw, n_bad = _with_malformed(spark, transcripts)
    ref = str(tmp_path_factory.mktemp("errors_ref"))
    run_checkpointed(spark, raw, ref, num_partitions=8)
    out = str(tmp_path_factory.mktemp("errors_resume"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, raw, out, num_partitions=8, fail_after_batches=1)
    first = _part_files(f"{out}/errors")
    run_checkpointed(spark, raw, out, num_partitions=8)
    assert _part_files(f"{out}/errors") == first
    got = _errors(spark, out)
    assert len(got) == len(set(got)) == n_bad
    assert got == _errors(spark, ref)
    assert _by_key(spark.read.parquet(f"{out}/results")) == _by_key(
        spark.read.parquet(f"{ref}/results")
    )


def test_crash_before_first_slice_rewrites_errors(spark, transcripts, tmp_path_factory):
    """A leg that dies before its first checkpoint leaves no checkpoint,
    so the next launch writes the errors table again; it equals a
    one-shot run's."""
    from engine.spark.job import _completed_parts, run_checkpointed

    raw, n_bad = _with_malformed(spark, transcripts)
    ref = str(tmp_path_factory.mktemp("errors_ref0"))
    run_checkpointed(spark, raw, ref, num_partitions=8)
    out = str(tmp_path_factory.mktemp("errors_crash0"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, raw, out, num_partitions=8, fail_after_batches=0)
    assert _completed_parts(f"{out}/checkpoints", "run-1") == set()
    first = _part_files(f"{out}/errors")
    run_checkpointed(spark, raw, out, num_partitions=8)
    assert first and not first & _part_files(f"{out}/errors")
    got = _errors(spark, out)
    assert len(got) == n_bad and got == _errors(spark, ref)


def _far_ts(df):
    """df with every turn 0 moved outside pandas' nanosecond timestamp
    range: 2999-12-31 on even conversations, 0001-01-02 on odd ones."""
    from datetime import datetime, timedelta, timezone

    def us(*ymd):
        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
        return (datetime(*ymd, tzinfo=timezone.utc) - epoch) // timedelta(microseconds=1)

    even = F.substring("conv_id", -1, 1).cast("int") % 2 == 0
    far = F.when(even, us(2999, 12, 31)).otherwise(us(1, 1, 2))
    return df.withColumn(
        "ts",
        F.when(F.col("turn_idx") == 0, F.timestamp_micros(far)).otherwise(F.col("ts")),
    )


def _ts_by_key(df):
    return {
        (r.conv_id, r.turn_idx): r.us
        for r in df.select("conv_id", "turn_idx", F.unix_micros("ts").alias("us")).collect()
    }


def test_out_of_pandas_range_ts_passes_through(spark, transcripts, tmp_path_factory):
    """A turn whose ts pandas cannot hold kills no task: the extraction
    stage, the checkpointed job (first leg, resume, sink read back) and
    the LLM hop return every row with its ts unchanged."""
    from engine.spark.job import run_checkpointed
    from engine.spark.llm import llm_enrich

    raw = _far_ts(transcripts)
    want = _ts_by_key(raw)
    far = {k for k in want if k[1] == 0}
    assert len({want[k] for k in far}) == 2
    assert _ts_by_key(run_extraction(raw, num_partitions=8)) == want
    assert _ts_by_key(run_extraction(raw, num_partitions=8, span_content=False)) == want

    out = str(tmp_path_factory.mktemp("far_ts"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, raw, out, num_partitions=8, fail_after_batches=1)
    first = _ts_by_key(spark.read.parquet(f"{out}/results"))
    assert first.items() <= want.items()
    # far rows in both legs: committed by the first, extracted by the resume
    assert far & first.keys() and far - first.keys()
    assert _ts_by_key(run_checkpointed(spark, raw, out, num_partitions=8)) == want

    assert _ts_by_key(llm_enrich(run_extraction(raw, num_partitions=8))) == want


def test_extract_job_main_keeps_callers_session(spark, tmp_path, capsys):
    """jobs/extract_job.py in-process: the synthesized run lands in the
    sink, and the caller's session survives the job."""
    import sys

    sys.path.insert(0, "jobs")
    try:
        import extract_job
    finally:
        sys.path.pop(0)

    out = str(tmp_path / "run")
    rc = extract_job.main(
        ["--synthesize", "6", "--output", out, "--num-partitions", "4"]
    )
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["rows_in_sink"] > 0
    assert line["turns_processed"] == line["rows_in_sink"]
    assert spark.range(3).count() == 3
