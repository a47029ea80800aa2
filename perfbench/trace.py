"""The traced run's instruments: spans, the kernel sublayer replay and
the per-layer probes.

Everything here measures the engine from outside. Spans wrap the
benchmark's own calls into the engine's public functions; the kernel
replay times sublayers by wrapping module attributes of
``engine.kernel`` for the duration of the replay (``extract_turn``
looks them up at call time, so the replayed records are exactly the
kernel's); the Spark runtime numbers come from the event log.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

from engine.kernel import chunker, detector, fields, html, pdfish, textclean, transcript
from engine.spark import agent
from engine.spark.analytics import dedup_clusters
from engine.spark.pipeline import (
    conversation_branches,
    dedup_conversations,
    dedup_conversations_near,
    part_expr,
    preference_pairs,
    run_extraction,
    split_valid,
    transcript_curate,
    with_native_post,
)
from engine.spark.stage import extract_turns
from perfbench.eventlog import Group, summarize
from perfbench.stats import median, percentile
from perfbench.workloads import GATES, PER_TURN_COLS, JobResume, dir_bytes

#: kernel sublayer -> the module functions whose self time it is.
#: ``normalize`` is the rest of extract_turn's own time: field
#: normalization, invoice post-processing, scoring and serialization.
KERNEL_SUBLAYERS = {
    "transcript.classify_payload": [(transcript, "classify_payload")],
    "html": [(html, "extract_main_text")],
    "pdfish": [(pdfish, "reconstruct_text"), (pdfish, "page_stats")],
    "textclean": [(textclean, "clean_text"), (textclean, "assess_quality")],
    "chunker": [(chunker, "chunk_text"), (chunker, "estimate_tokens")],
    "detector": [(detector, "detect_document_type")],
    "fields": [(fields, "extract_fields")],
}
KERNEL_SAMPLE = 4000

#: which end-to-end metric each layer's numbers should move, and on which
#: workload, written down before measuring
MOVES = {
    "kernel": "turns_per_s and cpu_s on extract_scan, some on job_resume, none on curate_chain",
    "stage": "wall_s on extract_scan (narrow Arrow-out) and job_resume (wide Arrow-out)",
    "pipeline": "wall_s on job_resume (salted shuffle) and on curate_chain (curation)",
    "analytics": "wall_s and spark.shuffle_* on curate_chain",
    "agent": "wall_s on curate_chain",
    "job": "wall_s and out_bytes_per_turn on job_resume",
    "spark": "turns_per_s on extract_scan (slot use, skew), wall_s on curate_chain "
             "(shuffle, spill), peak_rss_mb everywhere (GC)",
    "lsh": "wall_s and spark.shuffle_* on curate_chain",
    "dedup": "none: an outcome count of curate_chain's dedup",
    "host": "none: steal inflates wall_s and cpu_s on every workload",
    "trace": "none: the traced run's own overhead and coverage",
}
#: the key columns the extraction stage carries through
KEY_COLS = ("conv_id", "turn_idx", "role", "tool", "ts")


@dataclass
class Span:
    name: str
    group: str | None
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Flat spans kept in memory. A span with a ``group`` also sets the
    Spark job group, so the event log can attribute its jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, group, t0, time.perf_counter()))
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def pass_seconds(self, k) -> float:
        """Time inside the spans of pass ``k`` (group ``pass-k[.*]``)."""
        g = f"pass-{k}"
        return sum(s.seconds for s in self.spans
                   if s.group == g or (s.group or "").startswith(g + "."))


class _SelfTimer:
    """Self time per layer for (possibly nested) wrapped calls."""

    def __init__(self):
        self.self_ns: dict[str, int] = {}
        self._child_ns: list[int] = []

    @contextmanager
    def frame(self, layer: str):
        self._child_ns.append(0)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            d = time.perf_counter_ns() - t0
            child = self._child_ns.pop()
            self.self_ns[layer] = self.self_ns.get(layer, 0) + d - child
            if self._child_ns:
                self._child_ns[-1] += d

    def wrap(self, layer: str, fn):
        def timed(*a, **kw):
            with self.frame(layer):
                return fn(*a, **kw)
        return timed


def kernel_replay(texts: list[str], keys: list[str]) -> tuple[dict, dict]:
    """Single-core replay of ``extract_turn`` over ``texts`` in this
    process, with sublayer self times. Returns (metrics, report)."""
    timer = _SelfTimer()
    saved = []
    for layer, targets in KERNEL_SUBLAYERS.items():
        for mod, attr in targets:
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, timer.wrap(layer, getattr(mod, attr)))
    per_turn_us: list[float] = []
    kinds: dict[str, int] = {}
    try:
        for text in texts:
            t0 = time.perf_counter_ns()
            with timer.frame("normalize"):
                rec = transcript.extract_turn(text)
            per_turn_us.append((time.perf_counter_ns() - t0) / 1000)
            kinds[rec["payload_kind"]] = kinds.get(rec["payload_kind"], 0) + 1
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    total_us = sum(timer.self_ns.values()) / 1000
    n = len(texts)
    slowest = max(range(n), key=per_turn_us.__getitem__)
    metrics = {
        "kernel.turns_per_s": n / (total_us / 1e6),
        "kernel.turn_p99_us": percentile(per_turn_us, 99),
        "kernel.turn_max_us": per_turn_us[slowest],
    }
    for layer in [*KERNEL_SUBLAYERS, "normalize"]:
        us = timer.self_ns.get(layer, 0) / 1000
        metrics[f"kernel.{layer}.us_per_turn"] = us / n
        metrics[f"kernel.{layer}.share"] = us / total_us
    report = {
        "kernel.sample_turns": n,
        "kernel.slowest_key": keys[slowest],
        # payload mix; the kernel calls a pdfish payload "pdfbox"
        "kernel.html.turns": kinds.get("html", 0),
        "kernel.pdfish.turns": kinds.get("pdfbox", 0),
        "kernel.plain.turns": kinds.get("plain", 0),
    }
    return metrics, report


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


class Probes:
    """Layer probes over a workload's own raw input: each materializes
    one layer's output in isolation (noop sink) inside a span whose job
    group is ``probe.<name>``."""

    def __init__(self, tracer: Tracer, workload):
        self.t = tracer
        self.w = workload
        self.spark = workload.spark
        self.metrics: dict[str, float] = {}
        self.report: dict[str, object] = {}

    def timed(self, name: str, fn):
        """Run ``fn`` in a span, record its time as ``<name>_s`` and
        return what it returned."""
        with self.t.span(name, f"probe.{name}"):
            out = fn()
        self.metrics[f"{name}_s"] = self.t.seconds(name)[-1]
        return out

    def stage(self) -> None:
        """Extraction layers, each inclusive of the ones before it:
        scan; + Arrow round trip; + kernel (narrow or wide Arrow-out);
        native post columns over a cached stage output; salted shuffle.
        Malformed rows are routed away first, as the job does."""
        raw = split_valid(self.w.raw())[0].select(*KEY_COLS, "text")
        self.timed("spark.scan", lambda: _noop(raw))
        self.timed("stage.arrow_roundtrip",
                   lambda: _noop(raw.mapInPandas(_identity, raw.schema)))
        self.timed("stage.extract_narrow", lambda: _noop(extract_turns(raw, False)))
        self.timed("stage.extract_wide", lambda: _noop(extract_turns(raw, True)))
        cached = extract_turns(raw, False).persist()
        try:
            cached.count()
            self.timed("pipeline.native_post", lambda: _noop(with_native_post(cached)))
        finally:
            cached.unpersist()
        parts = self.spark.sparkContext.defaultParallelism * 4
        salted = raw.withColumn("part_id", part_expr(parts)).repartition(parts, "part_id")
        self.timed("pipeline.salt_shuffle", lambda: _noop(salted))

    def gates(self) -> None:
        raw = self.w.raw()
        for g in GATES:
            self.timed(f"agent.{g}", lambda g=g: _noop(getattr(agent, g)(raw)))

    def per_turn(self):
        """The workload's per-turn extraction table (built here for
        workloads whose pass does not build one)."""
        if hasattr(self.w, "per_turn"):
            return self.w.per_turn()
        path = os.path.join(self.w.work, "probe_per_turn")
        valid, _ = split_valid(self.w.raw())
        run_extraction(valid, span_content=False, repartition=False).select(
            *PER_TURN_COLS
        ).write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def curation(self, with_chain: bool) -> None:
        """The parts of transcript_curate on their own, plus the LSH
        work/outcome counts; ``with_chain`` also times the chain's
        steps (the curate_chain pass times those itself)."""
        pt = self.per_turn()
        self.timed("pipeline.dedup_conversations", lambda: _noop(dedup_conversations(pt)))
        pairs = self.timed("pipeline.dedup_conversations_near",
                           lambda: dedup_conversations_near(pt).localCheckpoint())
        edges = pairs.select(F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b"))
        clusters = self.timed("analytics.dedup_clusters",
                              lambda: dedup_clusters(edges).localCheckpoint())
        verified = pairs.count()
        candidates = dedup_conversations_near(pt, min_jaccard=0.0).count()
        self.metrics["lsh.candidate_pairs"] = candidates
        self.metrics["lsh.verified_pairs"] = verified
        self.metrics["lsh.useful_frac"] = verified / candidates if candidates else 0.0
        self.metrics["dedup.near_drops"] = clusters.filter(~F.col("is_keeper")).count()
        self.report["dedup.exact_drops"] = (
            dedup_conversations(pt).filter(~F.col("is_keeper")).count()
        )
        if with_chain:
            self.timed("pipeline.transcript_curate", lambda: _noop(transcript_curate(pt)))
            self.timed("pipeline.preference_pairs", lambda: _noop(preference_pairs(pt)))
            self.timed("pipeline.conversation_branches",
                       lambda: _noop(conversation_branches(pt)))

    def job(self) -> None:
        """One kill-and-resume run of the job over this workload's raw
        input (the job_resume pass times its own)."""
        job = JobResume(self.spark, self.w.work, self.w.seed, "full")
        job.corpus, job.raw_dir = self.w.corpus, self.w.raw_dir
        job.run_pass("probe", self.t.span)
        job_metrics(self.t, job, "probe", self.metrics, self.report)
        shutil.rmtree(job.job_dir("probe"), ignore_errors=True)


def job_metrics(tracer: Tracer, job: JobResume, k, metrics: dict, report: dict) -> None:
    """Job-layer numbers of pass ``k``, read from its output on disk.
    ``job.resume_turns_extracted`` needs the event log and is filled in
    by ``resume_extracted`` once it has been read."""
    results_dir = f"{job.job_dir(k)}/results"
    metrics["job.first_leg_s"] = tracer.seconds("job.first_leg")[-1]
    metrics["job.resume_s"] = tracer.seconds("job.resume")[-1]
    metrics["job.sink_files"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(results_dir) for f in fs
    )
    metrics["job.sink_bytes_per_turn"] = dir_bytes(results_dir) / job.turns
    first = [int(p.split("=", 1)[1]) for p in job.first_leg_parts if p.startswith("part_id=")]
    committed = job.spark.read.parquet(results_dir).filter(~F.col("part_id").isin(first)).count()
    metrics["job.resume_turns_committed"] = committed
    report["job.errors_routed"] = job.spark.read.parquet(f"{job.job_dir(k)}/errors").count()
    report["job.first_leg_partitions"] = len(first)


def resume_extracted(groups: dict, k, metrics: dict) -> None:
    """Turns the resume leg of pass ``k`` sent through the kernel (rows
    out of its Python hop, from the event log), and the share of them it
    committed: the rest were extracted again for nothing."""
    g = groups.get(f"pass-{k}.resume")
    extracted = sum(t.python_rows for t in g.tasks) if g else 0
    metrics["job.resume_turns_extracted"] = extracted
    committed = metrics["job.resume_turns_committed"]
    metrics["job.resume_useful_frac"] = committed / extracted if extracted else 0.0


def spark_metrics(groups: dict, walls: dict[str, float], slots: int) -> dict[str, float]:
    """Median over the traced passes of each runtime metric; ``walls``
    maps a pass's group prefix (``pass-k``) to its wall time."""
    per_pass = []
    for prefix, wall in walls.items():
        merged = Group()
        for name, g in groups.items():
            if name == prefix or name.startswith(prefix + "."):
                merged.jobs += g.jobs
                merged.stages |= g.stages
                merged.tasks += g.tasks
        per_pass.append(summarize(merged, wall, slots))
    return {f"spark.{k}": median([p[k] for p in per_pass]) for k in per_pass[0]}
