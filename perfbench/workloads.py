"""The three benchmark workloads.

Each workload generates its input from the seed, runs one *pass* (the
unit whose wall time is measured) and then, outside the timed region,
checks the pass's output against what the generator planted. A pass
takes a ``span`` factory so the traced run can time each layer call it
is made of and tag that call's Spark jobs with a job group.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import AbstractContextManager, nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from engine.spark import agent
from engine.spark.job import run_checkpointed
from engine.spark.pipeline import (
    conversation_branches,
    preference_pairs,
    run_extraction,
    transcript_curate,
    with_span_content,
)
from perfbench import gen

#: the per-conversation trajectory gates of engine.spark.agent, in the
#: order a curation pass runs them
GATES = (
    "conversation_wellformed",
    "loop_detect",
    "context_fit",
    "canned_responses",
    "refusal_detect",
    "truncation_detect",
    "assistant_echo",
    "turn_integrity",
)

#: columns of the per-turn extraction table the curation chain reads
PER_TURN_COLS = ("conv_id", "turn_idx", "role", "tool", "ts", "cleaned_text")


@dataclass
class PassResult:
    ok: bool
    out_bytes: int = 0
    detail: str = ""


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def no_span(name: str, group: str | None = None) -> nullcontext:
    """Stand-in for Tracer.span when a pass runs untraced."""
    return nullcontext()


Span = Callable[[str, str | None], AbstractContextManager]


class Workload:
    """Base: subclasses set ``name`` and ``sizes`` and implement
    ``run_pass`` and ``check_pass``."""

    name = ""
    #: scale -> keyword arguments of gen.generate (plus n_files)
    sizes: dict[str, dict] = {}
    #: passes run in set-up: the first is part of the set-up time, the
    #: rest let the JVM's compilers settle before the timed passes
    warm_passes = 1

    def __init__(self, spark, work_dir: str, seed: int, scale: str):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.size = dict(self.sizes[scale])
        self.n_files = self.size.pop("n_files")
        self.raw_dir = os.path.join(work_dir, "raw")
        self.corpus: gen.Corpus | None = None

    @property
    def turns(self) -> int:
        return len(self.corpus.rows)

    def generate(self) -> None:
        """Make the inputs from the seed and write them under the work dir."""
        shutil.rmtree(self.work, ignore_errors=True)
        self.corpus = gen.generate(self.seed, **self.size)
        gen.write_parquet(self.corpus.rows, self.raw_dir, self.n_files)

    def raw(self):
        return self.spark.read.parquet(self.raw_dir)

    def run_pass(self, k: int, span: Span = no_span) -> None:
        raise NotImplementedError

    def check_pass(self, k: int) -> PassResult:
        raise NotImplementedError

    def check_run(self) -> str:
        """Checks made once per run, after the timed passes; returns a
        failure description or ''."""
        return ""


class ExtractScan(Workload):
    """Headline path: stored turns -> fused kernel stage -> native post
    columns, aggregated to a count and an order-free digest (no shuffle
    of turns, no sink)."""

    name = "extract_scan"
    warm_passes = 2
    sizes = {
        "full": {"n_turns": 8000, "n_files": 4},
        "smoke": {"n_turns": 120, "mega": False, "n_files": 4},
    }
    SAMPLE = 32

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.digest = None
        self.last = None

    def extracted(self):
        return run_extraction(self.raw(), span_content=False, repartition=False)

    def run_pass(self, k: int, span: Span = no_span) -> None:
        out = self.extracted()
        # proc_us is a timing, not an output
        cols = [F.col(c) for c in out.columns if c != "proc_us"]
        with span("pipeline.run_extraction", f"pass-{k}"):
            self.last = out.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64(*cols)).alias("digest"),
            ).collect()[0]

    def check_pass(self, k: int) -> PassResult:
        row, self.last = self.last, None
        if self.digest is None:
            self.digest = row.digest
        if row.n != self.turns:
            return PassResult(False, detail=f"{row.n} rows for {self.turns} turns")
        if row.digest != self.digest:
            return PassResult(False, detail=f"digest {row.digest} != {self.digest}")
        return PassResult(True)

    def check_run(self) -> str:
        """Per-turn equality with the single-node kernel on a fixed
        sample, spans rebuilt natively from the narrow stage output."""
        from engine.kernel.transcript import extract_turn

        rows = self.corpus.rows
        step = max(1, len(rows) // self.SAMPLE)
        sample = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows[::step]}
        keys = F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"))
        wanted = [f"{c}|{i}" for c, i in sample]
        got = (
            with_span_content(self.extracted())
            .filter(keys.isin(wanted))
            .collect()
        )
        if len(got) != len(sample):
            return f"equality sample: {len(got)} rows for {len(sample)} keys"
        for r in got:
            want = extract_turn(sample[(r.conv_id, r.turn_idx)])
            have = r.asDict(recursive=True)
            bad = [k for k, v in want.items() if have[k] != v]
            if bad:
                return f"equality: {r.conv_id}/{r.turn_idx} differs in {bad}"
        return ""


class CurateChain(Workload):
    """Curation over a per-turn extraction table built in set-up: the
    agent gates on the raw turns, then transcript_curate, preference
    pairs and retry branches, each written to parquet."""

    name = "curate_chain"
    # the pass is ~40 short Spark jobs, so its time is compile and
    # scheduling overhead: the second pass still runs 15-25% slower
    # than the later ones, by how far the JIT got, and is left untimed
    warm_passes = 2
    sizes = {
        "full": {"n_turns": 1000, "exact": 10, "near": 10, "branches": 10,
                 "mega": False, "n_files": 8},
        "smoke": {"n_turns": 120, "exact": 2, "near": 2, "branches": 2,
                  "mega": False, "n_files": 2},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.per_turn_dir = os.path.join(self.work, "per_turn")
        self.out_dir = os.path.join(self.work, "out")

    def generate(self) -> None:
        """Raw turns plus their per-turn extraction table. The table is
        built with the single-node kernel, which the Spark stage equals
        turn for turn, so the pass itself never starts a Python worker."""
        super().generate()
        from engine.kernel.transcript import extract_turn

        rows = [dict(r, cleaned_text=extract_turn(r["text"])["cleaned_text"])
                for r in self.corpus.rows]
        gen.write_parquet(rows, self.per_turn_dir, self.n_files,
                          columns=PER_TURN_COLS)

    def per_turn(self):
        return self.spark.read.parquet(self.per_turn_dir)

    def steps(self, out_dir: str):
        """(layer call, function making its output, sink) per step. The
        function runs inside the step's span: making some plans already
        runs Spark jobs (dedup_clusters iterates to a fixpoint first)."""
        raw, pt = self.raw(), self.per_turn()
        for g in GATES:
            yield f"agent.{g}", lambda g=g: getattr(agent, g)(raw), f"{out_dir}/gate_{g}"
        yield ("pipeline.transcript_curate", lambda: transcript_curate(pt),
               f"{out_dir}/curated")
        yield ("pipeline.preference_pairs", lambda: preference_pairs(pt),
               f"{out_dir}/pairs")
        yield ("pipeline.conversation_branches", lambda: conversation_branches(pt),
               f"{out_dir}/branches")

    def run_pass(self, k: int, span: Span = no_span) -> None:
        for name, make, dest in self.steps(self.out_dir):
            with span(name, f"pass-{k}"):
                make().write.mode("overwrite").parquet(dest)

    def check_pass(self, k: int) -> PassResult:
        problem = self._check(self.out_dir)
        return PassResult(not problem, dir_bytes(self.out_dir), problem)

    def _check(self, out_dir: str) -> str:
        c = self.corpus
        read = self.spark.read.parquet
        packed = {r.conv_id for r in read(f"{out_dir}/curated").select("conv_id").collect()}
        if missing := set(c.originals) - packed:
            return f"{len(missing)} originals dropped, e.g. {sorted(missing)[0]}"
        if kept := set(c.exact_copies) & packed:
            return f"{len(kept)} exact copies kept, e.g. {sorted(kept)[0]}"
        n_convs = len(c.originals) + len(c.exact_copies) + len(c.near_copies) + len(c.branches)
        if (n := read(f"{out_dir}/gate_conversation_wellformed").count()) != n_convs:
            return f"wellformed gate has {n} rows for {n_convs} conversations"
        # every retry branch answers its original's prompt differently, and
        # no two originals share a prompt: exactly one pair per branch
        if (n := read(f"{out_dir}/pairs").count()) != len(c.branches):
            return f"{n} preference pairs for {len(c.branches)} planted branches"
        fam = {r.conv_id for r in read(f"{out_dir}/branches").filter("shared_turns >= 1").collect()}
        if lost := set(c.branches) - fam:
            return f"{len(lost)} retry branches not found, e.g. {sorted(lost)[0]}"
        return ""


class JobResume(Workload):
    """The checkpointed job killed after two of its four slices, then
    resumed under the same run id to completion."""

    name = "job_resume"
    # each pass runs the job twice, and the JIT keeps compiling for the
    # first few passes (9.7, 8.7, 8.4, then ~7.5 s): one settling pass
    warm_passes = 2
    sizes = {
        "full": {"n_turns": 1500, "malformed": 20, "n_files": 8},
        "smoke": {"n_turns": 120, "malformed": 4, "mega": False, "n_files": 2},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.first_leg_failed = False
        #: part_id directories the first leg committed
        self.first_leg_parts: set[str] = set()

    def job_dir(self, k: int | str) -> str:
        return os.path.join(self.work, f"job-{k}")

    def run_pass(self, k: int | str, span: Span = no_span) -> None:
        out_dir, run_id = self.job_dir(k), f"bench-{k}"
        self.first_leg_failed = False
        with span("job.first_leg", f"pass-{k}"):
            try:
                run_checkpointed(self.spark, self.raw(), out_dir, run_id=run_id,
                                 fail_after_batches=2)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
                self.first_leg_failed = True
        self.first_leg_parts = set(os.listdir(f"{out_dir}/results"))
        with span("job.resume", f"pass-{k}.resume"):
            run_checkpointed(self.spark, self.raw(), out_dir, run_id=run_id)

    def check_pass(self, k: int | str) -> PassResult:
        """Exactly one sink row per valid turn and every planted
        malformed row in the errors table; removes the pass's output."""
        out_dir = self.job_dir(k)
        row = self.spark.read.parquet(f"{out_dir}/results").agg(
            F.count("*").alias("n"),
            F.count_distinct("conv_id", "turn_idx").alias("keys"),
        ).collect()[0]
        errors = self.spark.read.parquet(f"{out_dir}/errors").count()
        want = self.corpus.valid_turns
        problem = ""
        if not self.first_leg_failed:
            problem = "first leg did not stop at the injected failure"
        elif row.n != want or row.keys != want:
            problem = f"sink has {row.n} rows / {row.keys} keys for {want} valid turns"
        elif errors != self.corpus.malformed:
            problem = f"{errors} routed errors for {self.corpus.malformed} planted"
        out_bytes = dir_bytes(f"{out_dir}/results")
        shutil.rmtree(out_dir, ignore_errors=True)
        return PassResult(not problem, out_bytes, problem)


WORKLOADS = {w.name: w for w in (ExtractScan, CurateChain, JobResume)}
