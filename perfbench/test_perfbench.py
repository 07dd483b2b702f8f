"""Tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen
import measure


@pytest.fixture(scope="module")
def content():
    return gen.content()


def _sorted(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names if c != "embedding"])


def test_content_is_the_committed_testdata(content):
    assert {n: t.num_rows for n, t in content.items()} == gen.SIZES
    assert gen.SIZES["lineitem"] == 60000 and gen.SIZES["documents"] == 500
    for name in content:  # the layout the permuted copies reproduce
        assert pq.ParquetFile(os.path.join(gen.DATA, f"{name}.parquet")).metadata.num_row_groups == 1


def test_inputs_are_a_permutation_with_one_row_group(content, tmp_path):
    sizes = gen.write_inputs(content, str(tmp_path / "a"), seed=1)
    gen.write_inputs(content, str(tmp_path / "b"), seed=2)
    for name, tbl in content.items():
        a = pq.ParquetFile(tmp_path / "a" / f"{name}.parquet")
        assert a.metadata.num_row_groups == 1
        assert sizes[name][0] == a.metadata.num_rows == tbl.num_rows
        read = a.read()
        assert _sorted(read).equals(_sorted(tbl)), name
        if tbl.num_rows > 100:
            b = pq.read_table(tmp_path / "b" / f"{name}.parquet")
            assert not read.equals(b), f"{name}: seeds 1 and 2 gave the same order"


def test_same_seed_same_bytes(content, tmp_path):
    gen.write_inputs(content, str(tmp_path / "a"), seed=5, pass_idx=1)
    gen.write_inputs(content, str(tmp_path / "b"), seed=5, pass_idx=1)
    for name in content:
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes()


def test_drops_split_the_content(content):
    static, drops = gen.drops(content, seed=3, n_drops=2)
    li = pa.concat_tables([static["lineitem"]] + [d["lineitem"] for d in drops])
    assert _sorted(li).equals(_sorted(content["lineitem"]))
    ev = pa.concat_tables([d["events"] for d in drops])
    ids = ev.column("event_id")
    assert pc.count_distinct(ids).as_py() == content["events"].num_rows
    assert ev.num_rows > content["events"].num_rows  # redelivered duplicates
    # each drop's events are later than every event of the drop before
    for prev, cur in zip(drops, drops[1:]):
        assert pc.min(cur["events"]["ts"]).as_py() >= pc.max(prev["events"]["ts"]).as_py()
    docs = pa.concat_tables([d["documents"] for d in drops])
    assert _sorted(docs).equals(_sorted(content["documents"]))
    assert [d["snapshots"]["snap_date"][0].as_py() for d in drops] == [
        "2024-01-02", "2024-01-03"]


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3, 2-5) and one runs past the parent's end
    assert measure.self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4)
    assert measure.self_time(0, 10, []) == 10
    assert measure.self_time(0, 10, [(0, 10), (2, 3)]) == 0
    assert measure.covered([(5, 6), (1, 2)], 0, 10) == 2


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert measure.tail(xs) == (90.0, 90.0, 100)
    v, p, n = measure.tail([float(i) for i in range(13, 0, -1)])
    assert (v, n) == (3.0, 13) and p == pytest.approx(100 * 3 / 13)
    # with ten or fewer samples no percentile has ten beyond: the max
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert measure.tail([1.0] * 10) == (1.0, 100.0, 10)
    with pytest.raises(ValueError):
        measure.tail([])


def _fake_proc(root, procs):
    """procs: pid -> (ppid, rss_kb)"""
    for pid, (ppid, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        # fields after the command: state ppid pgrp session tty tpgid
        # flags minflt cminflt majflt cmajflt utime stime cutime cstime
        (d / "stat").write_text(f"{pid} (py (x) y) S {ppid} 0 0 0 0 0 0 0 0 0 {pid} 1 2 3\n")
        (d / "status").write_text(f"Name:\tx\nVmRSS:\t {rss} kB\n")
    (root / "self").mkdir()  # non-numeric entries are ignored


def test_rss_tree_from_fake_proc(tmp_path):
    _fake_proc(tmp_path, {1: (0, 5), 10: (1, 100), 11: (10, 200), 12: (11, 300), 20: (1, 7000)})
    assert sorted(measure.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    assert measure.tree_rss_bytes(10, str(tmp_path)) == 600 * 1024
    assert measure.rss_bytes(99, str(tmp_path)) == 0  # gone
    tick = os.sysconf("SC_CLK_TCK")
    # a JVM thread list: a JIT compiler thread and a task thread of pid 11
    for tid, name in [(11, "java"), (31, "C2 CompilerThre"), (32, "Executor task l")]:
        d = tmp_path / "11" / "task" / str(tid)
        d.mkdir(parents=True)
        (d / "stat").write_text(f"{tid} ({name}) S 10 0 0 0 0 0 0 0 0 0 {tid} 4 0 0\n")
    total, jit = measure.tree_cpu_s(10, str(tmp_path))
    assert total == pytest.approx((33 + 3 * 6) / tick)
    assert jit == pytest.approx((31 + 4) / tick)
    assert measure.cpu_s(99, str(tmp_path)) == 0.0
    assert measure.threads_cpu_s(99, measure.JIT_THREADS, str(tmp_path)) == 0.0


def test_peak_rss_sees_a_child_process():
    code = "import time; x = bytearray(200 * 2**20); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 20
        while measure.rss_bytes(child.pid) < 200 * 2**20 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in measure.tree_pids(os.getpid())
        with measure.PeakRss(interval_s=0.05) as peak:
            time.sleep(0.3)
        own = measure.rss_bytes(os.getpid())
        assert peak.peak >= own + 200 * 2**20
        assert not peak._thread.is_alive()
    finally:
        child.kill()
        child.wait(timeout=10)


def test_process_age_is_positive_and_grows():
    a = measure.process_age_s()
    time.sleep(0.05)
    assert 0 < a < measure.process_age_s() + 0.011


def test_parse_size_metric_strings():
    import tracing

    assert tracing.parse_size("512.0 B") == 512
    assert tracing.parse_size(
        "total (min, med, max (stageId: taskId))\n8.0 KiB (4.0 KiB, 4.0 KiB, 4.0 KiB (stage 0.0: task 0))"
    ) == 8192
    assert tracing.parse_size("1.5 MiB") == 3 * 2**19


def test_layer_metrics_attribute_time_and_jobs():
    import tracing

    tr = object.__new__(tracing.Tracer)  # no Spark: spans and plans by hand
    S = tracing.Span
    tr.spans = [
        S("op:q", 0.0, 10.0),
        S("plans.build:q", 0.0, 4.0, parent=0),
        S("sources.load_table", 0.5, 1.0, parent=1, info={"new_frame": True}),
        S("operators.keys.add_surrogate_key", 1.0, 3.0, parent=1),
        S("sources.load_table", 1.5, 1.6, parent=3, info={"new_frame": False}),
        S("plans.exec:q", 4.0, 10.0, parent=0, info={"result_rows": 5}),
    ]
    tr.plans = [(5, None)]
    tr.progress = {}
    harvest = {
        "jobs": [
            {"job": 0, "span": 3, "stages": [0]},  # key stats collect
            {"job": 1, "span": 5, "stages": [1, 2]},
            {"job": 2, "span": 5, "stages": [2, 3]},  # stage 2 shared
            {"job": 3, "span": -1, "stages": [4]},  # outside any span
        ],
        "stages": {
            s: {"tasks": t, "failed_tasks": 0, "run_s": r, "gc_s": 0.0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
            for s, t, r in [(0, 1, 0.5), (1, 4, 8.0), (2, 1, 2.0), (3, 4, 2.0), (4, 1, 9.0)]
        },
        "nodes": {5: [{"cls": "FileSourceScanExec", "rows": 100},
                      {"cls": "ArrowEvalPythonExec", "rows": 20},
                      {"cls": "HashAggregateExec", "rows": 5}]},
        "python": [
            {"jobs": [0], "rows": 7, "bytes": 100},  # run while the plan was built
            {"jobs": [1, 2], "rows": 20, "bytes": 640},
            {"jobs": [3], "rows": 1000, "bytes": 9999},  # outside every operation
        ],
    }
    m = tracing.layer_metrics(tr, harvest, nproc=4, queries=["q"], stream_jobs=["j"])
    assert m["plans.build_s"] == 4.0
    assert m["plans.build_self_s"] == pytest.approx(4.0 - 0.5 - 2.0)  # minus direct children
    assert m["plans.build_jobs"] == 1.0
    assert m["operators.keys.calls"] == 1 and m["operators.keys.jobs"] == 1.0
    assert m["operators.keys.memo_hit_ratio"] == 0.0
    assert m["sources.load_table.calls"] == 2 and m["sources.new_frames"] == 1
    assert m["sources.load_table.s"] == pytest.approx(0.6)
    assert m["plans.exec.jobs"] == 2.0 and m["plans.exec.stages"] == 3.0
    assert m["plans.exec.task_s"] == 12.0
    assert m["plans.exec.utilisation"] == pytest.approx(12.0 / (4 * 6.0))
    assert m["plans.exec.single_task_stage_s"] == 2.0
    assert m["plans.exec.top_stage_share"] == pytest.approx(8.0 / 12.0)
    assert m["plans.exec.scan_rows"] == 100 and m["plans.exec.peak_node_rows"] == 100
    assert m["plans.exec.rows_examined_per_result"] == pytest.approx(125 / 5)
    assert m["functions.python_udf_rows"] == 27 and m["functions.python_udf_bytes"] == 740
    assert m["plans.q.q.exec_s"] == 6.0 and m["streaming.j.drain_s"] == 0.0
    assert tr.spans[0].info["jobs"] == 3  # inclusive of descendants
