"""Tiny-input tests of the benchmark's own helpers: order statistics,
/proc readers, the event-log reader and the input generator."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog, gen, procstat
from perfbench.stats import median, percentile


# --- order statistics ------------------------------------------------------

def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_interpolates_like_numpy():
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert percentile(vals, 0) == 10.0
    assert percentile(vals, 100) == 50.0
    assert percentile(vals, 50) == 30.0
    assert percentile(vals, 25) == 20.0
    assert percentile(vals, 90) == pytest.approx(46.0)  # numpy: 46.0
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile(vals, 101)


# --- /proc readers ---------------------------------------------------------

def _fake_proc(tmp_path, procs, cpu_line):
    """procs: pid -> (ppid, utime, stime, cutime, cstime, pss_kb)."""
    for pid, (ppid, ut, st, cut, cst, pss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # fields 3.. after "pid (comm) "; utime..cstime are fields 14-17
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 35
        (d / "stat").write_text(f"{pid} (odd (name) x) " + " ".join(rest) + "\n")
        (d / "smaps_rollup").write_text(
            f"0-1 ---p 0 00:00 0 [rollup]\nRss: {pss * 2} kB\nPss: {pss} kB\n"
        )
    (tmp_path / "stat").write_text(cpu_line + "\ncpu0 1 2 3\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_and_pss(tmp_path):
    tick = procstat._TICK
    proc = _fake_proc(tmp_path, {
        10: (1, tick, 0, 0, 0, 100),        # root
        11: (10, 0, tick, tick, 0, 200),    # child (with a reaped child)
        12: (11, 0, 0, 0, tick, 300),       # grandchild
        20: (1, 5 * tick, 0, 0, 0, 999),    # not in the tree
    }, "cpu  100 0 50 800 10 0 0 40 0 0")
    pids = sorted(procstat.tree_pids(10, proc))
    assert pids == [10, 11, 12]
    assert procstat.cpu_seconds(pids, proc) == pytest.approx(4.0)
    assert procstat.pss_bytes(pids + [99], proc) == 600 * 1024  # 99: gone


def test_steal_frac(tmp_path):
    proc = _fake_proc(tmp_path, {}, "cpu  100 0 50 800 10 0 0 40 7 0")
    before = procstat.cpu_times(proc)
    assert before == (40, 1000)  # guest (7) is already inside user
    assert procstat.steal_frac(before, (70, 1100)) == pytest.approx(0.3)
    assert procstat.steal_frac(before, before) == 0.0


# --- event log -------------------------------------------------------------

def _task_end(stage, tid, launch, finish, run_ms, gc_ms=0, sw=0, sr=0, inp=0,
              recs=0, out=0, spill=0, acc=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Task ID": tid, "Launch Time": launch, "Finish Time": finish,
                      "Accumulables": [{"ID": i, "Name": "x", "Update": u, "Value": u}
                                       for i, u in acc]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Input Metrics": {"Bytes Read": inp, "Records Read": recs},
            "Output Metrics": {"Bytes Written": out, "Records Written": 0},
        },
    }


def _log_lines():
    plan = {"nodeName": "WholeStageCodegen", "metrics": [], "children": [
        {"nodeName": "MapInPandas", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 7},
                     {"name": "data sent to Python workers", "accumulatorId": 8}]},
    ]}
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pass-0"}},
        _task_end(0, 1, 1000, 1100, 90, gc_ms=9, sw=2_000_000, inp=1_000_000, recs=10,
                  acc=[(7, 5), (8, 123)]),
        _task_end(0, 2, 1000, 1300, 280, sw=1_000_000, acc=[(7, 6)]),
        _task_end(1, 3, 1300, 1400, 100, sr=3_000_000, out=500_000, spill=4_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "pass-0.resume"}},
        _task_end(2, 4, 1500, 1600, 100, acc=[(7, 4)]),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        _task_end(3, 5, 0, 10, 10),
    ]
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_event_log_groups_and_python_rows():
    groups = eventlog.read_groups(_log_lines())
    assert set(groups) == {"pass-0", "pass-0.resume", ""}
    g = groups["pass-0"]
    assert g.jobs == 1 and g.stages == {0, 1} and len(g.tasks) == 3
    assert [t.python_rows for t in g.tasks] == [5, 6, 0]
    assert groups["pass-0.resume"].tasks[0].python_rows == 4


def test_event_log_summary():
    g = eventlog.read_groups(_log_lines())["pass-0"]
    m = eventlog.summarize(g, wall_s=0.5, slots=4)
    assert m["tasks"] == 3
    assert m["task_p50_ms"] == 100 and m["task_max_ms"] == 300
    assert m["task_skew"] == pytest.approx(300 / 200)  # stage 0: median of 100, 300
    assert m["slot_busy_frac"] == pytest.approx(0.5 / 2.0)
    assert m["gc_frac"] == pytest.approx(9 / 470)
    assert m["shuffle_write_mb"] == 3.0 and m["shuffle_read_mb"] == 3.0
    assert m["spill_mb"] == 4.0 and m["input_mb"] == 1.0 and m["output_mb"] == 0.5
    assert m["jobs"] == 1 and m["stages"] == 2
    with pytest.raises(ValueError):
        eventlog.summarize(eventlog.Group(), 1.0, 4)


def test_read_log_dir(tmp_path):
    (tmp_path / "local-123").write_text("".join(_log_lines()))
    groups = eventlog.read_log_dir(str(tmp_path))
    assert len(groups["pass-0"].tasks) == 3
    assert groups["pass-0.resume"].tasks[0].python_rows == 4
    (tmp_path / "local-456").write_text("")
    with pytest.raises(ValueError):
        eventlog.read_log_dir(str(tmp_path))


# --- input generator -------------------------------------------------------

def test_generator_is_seeded_and_sized():
    a = gen.generate(5, 200, exact=2, near=2, branches=2, malformed=4, mega=False)
    b = gen.generate(5, 200, exact=2, near=2, branches=2, malformed=4, mega=False)
    c = gen.generate(6, 200, exact=2, near=2, branches=2, malformed=4, mega=False)
    assert a.rows == b.rows
    assert a.rows != c.rows
    # 200 originals, 4 per exact copy and branch, 4 or 3 per near copy
    assert len(a.rows) == len(c.rows) == 200 + 8 + 7 + 8 + 4
    assert a.valid_turns == len(a.rows) - 4
    assert sum(r["conv_id"] in a.originals for r in a.rows) == 200


def test_generator_plants():
    c = gen.generate(3, 300, exact=3, near=2, branches=2, malformed=2, mega=False)
    by_conv: dict[str, list[dict]] = {}
    for r in c.rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    for copy, orig in c.exact_copies.items():
        assert copy > orig
        assert [r["text"] for r in by_conv[copy]] == [r["text"] for r in by_conv[orig]]
    edited, cut = list(c.near_copies.items())
    assert by_conv[edited[0]][-1]["text"].endswith(gen.EDIT_SUFFIX)
    assert len(by_conv[cut[0]]) == len(by_conv[cut[1]]) - 1
    for br, orig in c.branches.items():
        assert by_conv[br][0]["text"] == by_conv[orig][0]["text"]
        assert by_conv[br][1]["text"] != by_conv[orig][1]["text"]
    bad = c.rows[-2:]
    assert bad[0]["text"] is None and bad[1]["conv_id"] is None
    assert max(len(v) for k, v in by_conv.items() if k) < 320  # no mega-thread


def test_write_parquet_splits_evenly(tmp_path):
    import pyarrow.parquet as pq

    c = gen.generate(1, 50)
    paths = gen.write_parquet(c.rows, str(tmp_path), 4)
    tables = [pq.read_table(p) for p in paths]
    assert [t.num_rows for t in tables] == [12, 13, 12, 13]
    assert tables[0].column("conv_id")[0].as_py() == c.rows[0]["conv_id"]
    assert str(tables[0].schema.field("ts").type) == "timestamp[us, tz=UTC]"
