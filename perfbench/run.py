#!/usr/bin/env python3
"""Benchmark of the extraction engine: three workloads on a local[4]
Spark session, with a separately traced run for per-layer numbers.

BENCHMARK.json lists two of them, extract_scan and job_resume.
curate_chain stays runnable here but is left out of it: its ~10 s pass
is ~40 short Spark jobs whose wall moved by up to ±20% from one pass to
the next on a 4-vCPU host, and a median of enough passes to hold its
bound does not fit the benchmark's time budget beside two other
workloads. The curation layers it loads (agent gates, LSH dedup,
transcript_curate, preference pairs, branches) are still timed, one by
one, in the traced run of the other two.

Run from the repository root:

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload all --seed 1
    python3 perfbench/run.py --smoke

One run sets up (session start, the workload's input generated from
``--seed`` three times, a first pass), lets the JVM's compilers settle
with a fixed number of untimed passes, then repeats the workload's pass
for ``--seconds`` and checks every pass's output. It prints a readable
report and, as its last line, one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--smoke`` runs every workload untraced, then a traced run, at a tiny
size.

All files go under ``.perfbench_work/`` in the current directory and are
removed at exit; the JVM and its Python workers are stopped before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("extract_scan", "curate_chain", "job_resume")
SLOTS = 4
#: input generation is repeated this many times in set-up (median kept)
SETUP_REPS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics printed in the report but left out of the result
#: line, with the reason
REPORT_ONLY = {
    "kernel.sample_turns": "sample size, fixed by the workload",
    "kernel.slowest_key": "a key, not a number",
    "kernel.html.turns": "payload mix of the input: context with no better direction",
    "kernel.pdfish.turns": "payload mix of the input: context with no better direction",
    "kernel.plain.turns": "payload mix of the input: context with no better direction",
    "dedup.exact_drops": "fixed by the planted input; checked, not measured",
    "pack.convs_packed": "outcome of the planted input; checked, not measured",
    "job.errors_routed": "fixed by the planted malformed rows; checked, not measured",
    "job.first_leg_partitions": "fixed by the job's slicing",
    "lsh.verified_pairs": "fixed by the planted near copies; checked, not measured",
    "dedup.near_drops": "fixed by the planted near copies; checked, not measured",
    "job.resume_turns_committed": "fixed by the job's slicing and the input",
    "trace.coverage_frac": "describes the instrumentation, not the program",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (
        ("turns_per_s", "1/s"), ("_us", "us"), (".us_per_turn", "us"),
        ("_ms", "ms"), ("_mb", "MB"), ("bytes_per_turn", "B"),
        ("_frac", "frac"), (".share", "frac"), ("task_skew", "ratio"), ("_s", "s"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work_root: str) -> None:
    """Keep every file the run writes under ``work_root`` and let the
    Spark Python workers import the engine."""
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def session(work_root: str, trace: bool):
    from engine.spark.session import get_spark

    conf = {
        # small heap: the inputs are a few MB, and the host is shared
        "spark.driver.memory": "1g",
        # the heap is committed and touched whole at start, so peak RSS
        # follows the memory used outside the Java heap (Python workers,
        # driver, JVM off-heap), not the collector's heap-growth steps;
        # the engine's own extraJavaOptions still apply
        "spark.driver.defaultJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        # 4 MB split bins: one task per input file at these file sizes
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_root, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work_root, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work_root, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            # one file per application (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=SLOTS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    peak_mb: float
    steal_frac: float
    ok: bool
    out_bytes: int
    detail: str


def timed_pass(w, k, span=None, after=None) -> Pass:
    """One pass of ``w``, timed and sampled; its check runs after the
    clock stops (``after(k)`` runs between the two)."""
    from perfbench.procstat import TreeSampler
    from perfbench.workloads import PassResult, no_span

    err = ""
    with TreeSampler(os.getpid()) as s:
        t0 = time.perf_counter()
        try:
            w.run_pass(k, span or no_span)
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc()
            err = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
    if err:
        res = PassResult(False, detail=err)
    else:
        if after:
            after(k)
        try:
            res = w.check_pass(k)
        except Exception as e:
            traceback.print_exc()
            res = PassResult(False, detail=f"check raised {type(e).__name__}: {e}")
    if not res.ok:
        log(f"pass {k} FAILED: {res.detail}")
    return Pass(wall, s.cpu_s, s.peak_bytes / 1e6, s.steal_frac, res.ok,
                res.out_bytes, res.detail)


def passes_for(w, seconds: float, span=None, after=None) -> list[Pass]:
    """Passes within a window of ``seconds``: a pass starts only if one
    more pass as long as the last still fits (the first always runs)."""
    out: list[Pass] = []
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 + out[-1].wall_s <= seconds:
        out.append(timed_pass(w, len(out), span, after))
    return out


class Run:
    """One benchmark run of one workload."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 scale: str, work_root: str, reps: int):
        from perfbench.workloads import WORKLOADS

        self.cls = WORKLOADS[name]
        self.name, self.seed, self.seconds = name, seed, seconds
        self.trace, self.scale, self.reps = trace, scale, reps
        self.work_root = work_root
        self.passes: list[Pass] = []

    def set_up(self) -> float:
        """Session start, the median input generation and the first pass
        make the set-up time. The settling passes after it are left out
        of it: their count is fixed per workload, so set-up time does not
        step with pass length."""
        from perfbench.stats import median

        t0 = time.perf_counter()
        self.spark = session(self.work_root, trace=False)
        t_session = time.perf_counter() - t0
        self.w = self.cls(self.spark, os.path.join(self.work_root, self.name),
                          self.seed, self.scale)
        gen_s = []
        for _ in range(self.reps):
            t = time.perf_counter()
            self.w.generate()
            gen_s.append(time.perf_counter() - t)
        first = timed_pass(self.w, "warm0")
        settle = [timed_pass(self.w, f"warm{k}")
                  for k in range(1, self.w.warm_passes)]
        self.passes += [first, *settle]
        log(f"setup: session {t_session:.2f}s, inputs {[round(g, 2) for g in gen_s]}s, "
            f"first pass {first.wall_s:.2f}s, settling passes "
            f"{[round(p.wall_s, 2) for p in settle]}s")
        return t_session + median(gen_s) + first.wall_s

    def failures(self) -> None:
        """Once-per-run check; a failure fails every pass of the run."""
        problem = self.w.check_run()
        if problem:
            log(f"run check FAILED: {problem}")
            for p in self.passes:
                p.ok = False

    def result(self, metrics: dict[str, float], units) -> dict:
        failed = sum(not p.ok for p in self.passes)
        return {
            "correct": failed == 0,
            "attempted": len(self.passes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
        }

    def end_to_end(self) -> dict:
        from perfbench.stats import median

        setup_s = self.set_up()
        timed = passes_for(self.w, self.seconds)
        self.passes += timed
        self.failures()
        wall = median([p.wall_s for p in timed])
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": self.w.turns / wall,
            "cpu_s": median([p.cpu_s for p in timed]),
            "peak_rss_mb": median([p.peak_mb for p in timed]),
        }
        extra = {
            "failed_frac": sum(not p.ok for p in self.passes) / len(self.passes),
            "host.steal_frac": median([p.steal_frac for p in timed]),
            "passes": len(timed),
        }
        if self.name != "extract_scan":
            extra["out_bytes_per_turn"] = median([p.out_bytes for p in timed]) / self.w.turns
        self.report(metrics, END_TO_END_UNITS.__getitem__, extra, timed)
        return self.result(metrics, END_TO_END_UNITS.__getitem__)

    def traced(self) -> dict:
        from perfbench import trace
        from perfbench.eventlog import read_log_dir
        from perfbench.stats import median

        self.set_up()
        untraced = passes_for(self.w, self.seconds / 2)
        self.passes += untraced
        # the event log is on only in this second session
        self.spark.stop()
        self.spark = self.w.spark = session(self.work_root, trace=True)
        tracer = trace.Tracer(self.spark)
        self.passes.append(timed_pass(self.w, "tracewarm", tracer.span))
        job_per_pass: list[dict] = []
        report: dict[str, object] = {}
        after = None
        if self.name == "job_resume":
            def after(k):
                job_per_pass.append({})
                trace.job_metrics(tracer, self.w, k, job_per_pass[-1], report)
        traced = passes_for(self.w, self.seconds / 2, tracer.span, after)
        self.passes += traced
        self.failures()

        probes = trace.Probes(tracer, self.w)
        probes.stage()
        if self.name != "curate_chain":
            probes.gates()
        probes.curation(with_chain=self.name != "curate_chain")
        if self.name != "job_resume":
            probes.job()
        rows = [r for r in self.w.corpus.rows if r["text"] is not None]
        sample = rows[:: max(1, len(rows) // trace.KERNEL_SAMPLE)][: trace.KERNEL_SAMPLE]
        kernel, kreport = trace.kernel_replay(
            [r["text"] for r in sample], [f"{r['conv_id']}/{r['turn_idx']}" for r in sample]
        )
        if self.name == "curate_chain":
            report["pack.convs_packed"] = self.spark.read.parquet(
                self.w.out_dir + "/curated").count()
        self.spark.stop()
        groups = read_log_dir(os.path.join(self.work_root, "eventlog"))

        walls = [p.wall_s for p in traced]
        metrics = dict(kernel)
        metrics.update(probes.metrics)
        metrics.update(trace.spark_metrics(
            groups, {f"pass-{k}": w for k, w in enumerate(walls)}, SLOTS))
        if self.name == "curate_chain":
            groups_timed = {f"pass-{k}" for k in range(len(traced))}
            for name in [*(f"agent.{g}" for g in trace.GATES),
                         "pipeline.transcript_curate", "pipeline.preference_pairs",
                         "pipeline.conversation_branches"]:
                metrics[f"{name}_s"] = median([s.seconds for s in tracer.spans
                                               if s.name == name and s.group in groups_timed])
        elif self.name == "job_resume":
            for k, m in enumerate(job_per_pass):
                trace.resume_extracted(groups, k, m)
            for key in job_per_pass[0]:
                metrics[key] = median([m[key] for m in job_per_pass])
        if self.name != "job_resume":
            trace.resume_extracted(groups, "probe", metrics)
        metrics["host.steal_frac"] = median([p.steal_frac for p in untraced + traced])
        metrics["trace.overhead_frac"] = (
            median(walls) / median([p.wall_s for p in untraced]) - 1
        )
        # share of the pass wall inside layer spans; an extract_scan pass
        # is one span, and its split into layers comes from the probes
        report["trace.coverage_frac"] = median(
            [tracer.pass_seconds(k) / w for k, w in enumerate(walls)])
        for k in REPORT_ONLY:
            if k in metrics:
                report[k] = metrics.pop(k)
        report.update(kreport)
        report.update(probes.report)
        self.report(metrics, unit_of, report, traced)
        return self.result(metrics, unit_of)

    def report(self, metrics: dict, units, extra: dict, timed: list[Pass]) -> None:
        w = self.w
        print(f"== {self.name}  seed={self.seed}  turns={w.turns}  slots=local[{SLOTS}]  "
              f"trace={int(self.trace)}  passes={len(timed)}  "
              f"walls={[round(p.wall_s, 3) for p in timed]}")
        if self.trace:
            from perfbench.trace import MOVES

            for layer, moves in MOVES.items():
                print(f"  [{layer}] should move: {moves}")
        for k, v in metrics.items():
            print(f"  {k:<48} {v:>14.4f} {units(k)}")
        for k, v in extra.items():
            why = REPORT_ONLY.get(k)
            unit = unit_of(k) if isinstance(v, (int, float)) else ""
            print(f"  {k:<48} {v!s:>14} {unit}" + (f"   (report only: {why})" if why else ""))
        sys.stdout.flush()


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait for its process tree
    (the JVM exits when its stdin closes; its Python workers exit when
    the JVM does)."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    kids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.close()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.1)
    for p in kids:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOAD_NAMES, "all"),
                    help="'all' runs the three one after another in one JVM "
                         "(so only the first one's setup_s includes the JVM start)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload untraced, then a traced run, at a tiny size")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    if not os.path.isfile(os.path.join(ROOT, "engine", "spark", "pipeline.py")):
        log(f"the engine sources are not under {ROOT}; run from a full checkout")
        return 2

    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work_root, ignore_errors=True)
    prepare_env(work_root)
    sys.path.insert(0, ROOT)
    try:
        if args.smoke:
            return smoke(args.seed, work_root)
        for name in WORKLOAD_NAMES if args.workload == "all" else [args.workload]:
            run = Run(name, args.seed, args.seconds, bool(args.trace),
                      "full", work_root, SETUP_REPS)
            result = run.traced() if args.trace else run.end_to_end()
            print(json.dumps(result), flush=True)
            run.spark.stop()
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(work_root, ignore_errors=True)


def smoke(seed: int, work_root: str) -> int:
    """Every workload untraced, then the traced run of extract_scan
    (whose probes cover every layer), at a tiny size in one JVM."""
    results = {}
    for name, trace in [*((w, False) for w in WORKLOAD_NAMES), ("extract_scan", True)]:
        run = Run(name, seed, 1.0, trace, "smoke", work_root, 1)
        results[f"{name}/trace={int(trace)}"] = run.traced() if trace else run.end_to_end()
        run.spark.stop()
    summary = {
        "smoke": True,
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "runs": {k: sorted(r["metrics"]) for k, r in results.items()},
    }
    print(json.dumps(summary), flush=True)
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
