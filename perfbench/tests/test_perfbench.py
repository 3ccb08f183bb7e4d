"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import catgen, harness, tmsgen, tracing  # noqa: E402


def _snapshot(root: str) -> dict[str, tuple[bytes, float]]:
    out = {}
    for dirpath, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(), os.stat(p).st_mtime)
    return out


def _lake(tmp_path, name: str, seed: int, cycles: int = 1) -> tmsgen.TmsLake:
    lake = tmsgen.TmsLake(str(tmp_path / name), seed, looms=4)
    lake.write_backfill(35)
    for _ in range(cycles):
        lake.write_cycle()
    return lake


# -- generator ---------------------------------------------------------------

def test_lake_is_a_function_of_the_seed(tmp_path):
    a = _snapshot(_lake(tmp_path, "a", 7).root)
    b = _snapshot(_lake(tmp_path, "b", 7).root)
    c = _snapshot(_lake(tmp_path, "c", 8).root)
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_lake_layout_and_edge_rows(tmp_path):
    lake = _lake(tmp_path, "l", 3, cycles=0)
    files = sorted(_snapshot(lake.root))
    assert files[0] == os.path.join("2024-01", "daily", "2024-01-01.csv")
    assert {f.split(os.sep)[0] for f in files} == {"2024-01", "2024-02"}
    with open(os.path.join(lake.root, files[0]), "rb") as fh:
        assert fh.read().startswith(b"\xef\xbb\xbf")  # BOM on a month's first file
    lines = []
    for f in files:
        with open(os.path.join(lake.root, f), encoding="utf-8-sig") as fh:
            lines += fh.read().splitlines()
    widths = {len(line.split(",")) for line in lines}
    assert {2, 39, tmsgen.N_COLUMNS} <= widths  # short, truncated, full rows
    rows = [line.split(",") for line in lines if len(line.split(",")) == tmsgen.N_COLUMNS]
    assert any(r[5] == "" for r in rows)  # empty numeric
    off = [r for r in rows if r[0].endswith(".C") and r[7] == "0" and float(r[8]) >= 400]
    assert off  # powered-off C shifts
    assert any(r[0].endswith(".C") and r[7] == "0" and r[8] == "399" for r in rows)
    assert any(r[7] == "0.1" for r in rows)  # borderline, not powered off
    assert len(lines) > len(set(lines))  # exact duplicate rows


def test_model_applies_import_semantics(tmp_path):
    lake = _lake(tmp_path, "m", 5, cycles=0)
    model = tmsgen.ExpectedTable()
    batch = model.read_batch(lake.root, lake.months(lake.days))
    model.apply(batch)
    # one row per (DataTurno, Tear); short rows dropped; BOM stripped
    assert len(model.rows) == 35 * 3 * 4
    assert all(k[0][:4] == "2024" for k in model.rows)
    first = sorted(model.rows)[0]
    assert first[0] == "2024-01-01.A"
    # truncated rows coerce their missing measures to 0
    assert any(all(v == 0.0 for v in row[39:]) for row in model.rows.values())
    # a late re-emitted row wins over the day's own file (newer mtime)
    late_day = lake.start.replace(day=2)
    late = tmsgen.TmsLake(lake.root, 5, looms=4)
    text = late._rows(late_day, 0).strip().split("\n")[-1].split(",")
    assert model.rows[(text[0], text[1])][10] == float(text[10])


def test_powered_off_reexport_keeps_first_write(tmp_path):
    lake = _lake(tmp_path, "p", 11, cycles=0)
    model = tmsgen.ExpectedTable()
    model.apply(model.read_batch(lake.root, lake.months(lake.days)))
    before = dict(model.rows)
    months = lake.write_cycle()
    batch = model.read_batch(lake.root, months)
    model.apply(batch)
    skipped = [k for k, row in batch.items()
               if k in before and k[0].endswith(".C") and row[7] == 0.0 and row[8] >= 400]
    assert skipped
    assert all(model.rows[k] == before[k] for k in skipped)


# -- statistics ----------------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert harness.tail([1.0] * 10) is None
    v, pct, n = harness.tail([float(i) for i in range(1, 12)])
    assert (v, n) == (1.0, 11) and pct == pytest.approx(100 / 11)
    v, pct, n = harness.tail([float(i) for i in range(100, 0, -1)])
    assert (v, pct, n) == (90.0, 90.0, 100)  # 10 samples (91..100) beyond


def test_stolen_share_leaves_idle_ticks_out():
    before = [0] * 10
    after = [50, 0, 10, 100, 0, 0, 0, 20, 0, 0]  # 60 running, 100 idle, 20 stolen
    assert harness.stolen_share(before, after) == pytest.approx(0.25)
    assert harness.stolen_share(before, before) == 0.0
    assert harness.steal_adjusted(2.0, 0.25) == pytest.approx(1.5)


def _fake_host(monkeypatch):
    """A settable clock and /proc/stat for `harness`."""
    host = {"t": 0.0, "ticks": [0] * 10}
    monkeypatch.setattr(harness, "time", types.SimpleNamespace(perf_counter=lambda: host["t"]))
    monkeypatch.setattr(harness, "cpu_ticks", lambda: list(host["ticks"]))
    return host


def test_timer_records_steal_adjusted_times(monkeypatch):
    host = _fake_host(monkeypatch)
    timer = harness.Timer(10)

    def op():
        host["t"] += 4.0
        host["ticks"] = [30, 0, 0, 0, 0, 0, 0, 10, 0, 0]  # a quarter stolen

    timer.run("read", op)
    assert timer.ops == [("read", pytest.approx(3.0), True, False)]
    assert timer.raw == [(pytest.approx(4.0), pytest.approx(0.25))]


def test_run_clock_runs_on_steal_adjusted_time(monkeypatch):
    host = _fake_host(monkeypatch)
    timer = harness.Timer(10)
    host["t"], host["ticks"] = 12.0, [50, 0, 0, 0, 0, 0, 0, 50, 0, 0]
    assert not timer.expired()  # half stolen: 6 s of the 10
    host["t"] = 21.0
    assert timer.expired()  # 10.5 s
    host["t"], host["ticks"] = 30.0, [10, 0, 0, 0, 0, 0, 0, 90, 0, 0]
    assert timer.expired()  # 3 s adjusted, but three run lengths of wall time


# -- tracing -------------------------------------------------------------------

def _span(i, name, parent, start, end, op=None, **kw):
    return {"id": i, "name": name, "parent": parent, "op": i if op is None else op,
            "start": start, "end": end, **kw}


def test_union_length_merges_and_clips():
    iv = [(0, 2), (1, 3), (5, 6), (5.5, 5.7)]
    assert tracing.union_length(iv) == pytest.approx(4.0)
    assert tracing.union_length(iv, 1.5, 5.5) == pytest.approx(2.0)
    assert tracing.union_length([]) == 0.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "op:x", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0, op=0),
        _span(2, "b", 0, 3.0, 6.0, op=0),   # overlaps a: union 1..6
        _span(3, "c", 1, 2.0, 3.0, op=0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"perfbench.span": "1"},
     "Stage Infos": [{"Stage ID": 1, "RDD Info": [
         {"Name": "MapPartitionsRDD", "Scope": '{"id":"7","name":"MapInPandas"}'}]}]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 400, "JVM GC Time": 10, "Memory Bytes Spilled": 5,
        "Disk Bytes Spilled": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Input Metrics": {"Records Read": 50}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 600, "JVM GC Time": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
     "Stage IDs": [2], "Properties": {"perfbench.span": "2"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 200}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
     "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9500},
]


def _log(tmp_path) -> str:
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return str(path)


def test_parse_event_log(tmp_path):
    jobs, stages = tracing.parse_event_log(_log(tmp_path))
    assert jobs[0] == {"start": 1.0, "end": 3.0, "span": 1, "stages": [0, 1]}
    assert jobs[2]["span"] is None
    assert stages[1]["python"] and not stages[0]["python"]
    tot = tracing.job_totals([jobs[0]], stages)
    assert tot == {"jobs": 1, "tasks": 2, "task_s": 1.0, "gc_s": 0.01,
                   "shuffle_bytes": 100, "spill_bytes": 6, "records_read": 50,
                   "python_s": 0.6}


def test_outside_jobs_uses_union_of_job_intervals(tmp_path):
    jobs, stages = tracing.parse_event_log(_log(tmp_path))
    op = _span(0, "op:x", None, 0.0, 5.0)
    # jobs 0 (1..3) and 1 (2.5..4) overlap: union 1..4 → 2 s outside
    assert tracing.outside_jobs(op, [jobs[0], jobs[1]]) == pytest.approx(2.0)


def test_layer_metrics_on_fixture(tmp_path):
    jobs, stages = tracing.parse_event_log(_log(tmp_path))
    spans = [
        _span(0, "op:import", None, 0.0, 5.0),
        _span(1, "versioned.merge_version", 0, 0.5, 4.5, op=0, files_rewritten=3),
        _span(2, "versioned.write_version", 1, 2.0, 4.2, op=0),
    ]
    m = tracing.layer_metrics(spans, jobs, stages, cores=2)
    assert m["versioned.merge_version_s"] == pytest.approx(4.0)
    assert m["versioned.merge_outside_jobs_s"] == pytest.approx(1.0)
    assert m["versioned.jobs_per_commit"] == pytest.approx(1.5)  # 2 jobs + 1 job
    assert m["versioned.files_rewritten_per_merge"] == 3
    assert m["spark.jobs_per_op"] == 2
    assert m["spark.task_s"] == pytest.approx(1.2)
    assert m["spark.task_parallelism"] == pytest.approx(1.2 / (3.0 * 2))
    assert m["python.task_s"] == pytest.approx(0.6)
    assert m["trace.op_self_frac"] == pytest.approx(1.0 / 5.0)


def test_traced_steps_sit_evenly_on_the_warmup_trend():
    assert [tracing.traced_step(i) for i in range(9)] == [
        False, False, True, True, False, False, True, True, False]


def test_trace_overhead_compares_kinds_run_both_ways():
    ops = [("a", 1.0, True, False), ("a", 1.2, True, True), ("a", 1.4, True, True),
           ("b", 2.0, True, False), ("b", 2.0, True, True), ("c", 9.0, True, True)]
    # traced a+b: 1.2 + 1.4 + 2.0 = 4.6 against 1.0 + 1.0 + 2.0 untraced
    assert tracing.trace_overhead(ops) == pytest.approx(0.15)


def test_tracer_patch_wraps_from_imports_and_restores():
    import types

    mod = types.ModuleType("perfbench_fake_mod")
    mod.fn = lambda x: x + 1
    user = types.ModuleType("perfbench_fake_user")
    user.fn = mod.fn
    sys.modules[mod.__name__] = mod
    sys.modules[user.__name__] = user
    try:
        tr = tracing.Tracer()
        tr.patch([(mod.__name__, "fn", "fake.fn")])
        with tr.span("op:t"):
            assert user.fn(1) == 2
        assert [s["name"] for s in tr.spans] == ["op:t", "fake.fn"]
        assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == 0
        tr.unpatch()
        assert user.fn is mod.fn
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]


# -- catalog tables and the benchmark declaration ---------------------------------

def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    a = catgen.generate(str(tmp_path / "a"), 1, 0.001)
    catgen.generate(str(tmp_path / "b"), 1, 0.001)
    assert set(a) == set(catgen.TABLES)
    for t in catgen.TABLES:
        fa = pq.ParquetFile(str(tmp_path / "a" / f"{t}.parquet"))
        assert fa.metadata.num_row_groups == 1
        assert fa.read().equals(pq.read_table(str(tmp_path / "b" / f"{t}.parquet")))


def test_benchmark_json_matches_the_runner():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
