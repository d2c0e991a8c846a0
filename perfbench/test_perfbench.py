"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import types

import pytest

from perfbench import check, eventlog, gen
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS, per_layer_unit, tail_percentile
from perfbench.trace import Span, Tracer, self_time, union_length

HERE = os.path.dirname(os.path.abspath(__file__))


# -- generator ----------------------------------------------------------------


def test_backfill_docs_deterministic_and_seed_sensitive():
    a = gen.backfill_docs(3, 4, 40)
    assert a == gen.backfill_docs(3, 4, 40)
    assert a != gen.backfill_docs(4, 4, 40)


def test_tick_docs_deterministic_and_seed_sensitive():
    a = json.dumps(gen.tick_docs(3, 30))
    assert a == json.dumps(gen.tick_docs(3, 30))
    assert a != json.dumps(gen.tick_docs(4, 30))


def test_history_and_registry_tables_deterministic():
    assert gen.history_table(5, 1).equals(gen.history_table(5, 1))
    assert not gen.history_table(5, 1).equals(gen.history_table(6, 1))
    a = gen.registry_tables(5, 50, 40)
    b = gen.registry_tables(5, 50, 40)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.registry_tables(6, 50, 40)["lineitem"])


def test_backfill_docs_cover_fixture_edge_cases():
    docs = [json.loads(ln) for ln in gen.backfill_docs(1, 6, 200)]
    lines = [json.dumps(d, sort_keys=True) for d in docs]
    assert len(set(lines)) < len(lines)  # exact duplicates
    keyed = {}
    conflict = False
    for d in docs:
        if d.get("dt") is None:
            continue
        key = (d["dt"], d["name"])
        if key in keyed and keyed[key] != d["main"]["temp"]:
            conflict = True
        keyed[key] = d["main"]["temp"]
    assert conflict  # same key, different value in one batch
    assert any(d.get("dt") is None for d in docs)
    assert any("dt" not in d for d in docs)
    assert any(d["timezone"] < 0 for d in docs)
    assert {len(d["weather"]) for d in docs} == {0, 1, 2, 3}
    assert any(d["name"] == "Breda" for d in docs)


def test_tick_docs_repeat_observations_across_ticks():
    ticks = gen.tick_docs(2, 40)
    assert set(ticks[0]) == {q for q, _n, _tz in gen.REFERENCE_CITIES}
    assert ticks[0]["Breda,nl"]["name"] == "Breda"
    repeats = corrected = 0
    for prev, cur in zip(ticks, ticks[1:]):
        for city, doc in cur.items():
            if doc.get("dt") is not None and doc.get("dt") == prev[city].get("dt"):
                repeats += 1
                corrected += doc["main"]["temp"] != prev[city]["main"]["temp"]
    assert repeats > 0 and corrected > 0


# -- correctness check ------------------------------------------------------------


def test_same_rows_is_multiset_equality():
    import duckdb

    con = duckdb.connect()
    rows = "SELECT * FROM (VALUES {}) t(t, city, temp)"
    a = rows.format("(1, 'a', 1.5), (1, 'a', 1.5), (2, 'b', NULL)")
    assert check.same_rows(con, a, rows.format("(2, 'b', NULL), (1, 'a', 1.5), (1, 'a', 1.5)"))
    assert not check.same_rows(con, a, rows.format("(1, 'a', 1.5), (2, 'b', NULL), (2, 'b', NULL)"))
    assert not check.same_rows(con, a, rows.format("(1, 'a', 1.5), (1, 'a', 1.75), (2, 'b', NULL)"))


# -- event log parser -----------------------------------------------------------


def _log() -> list[str]:
    scope = json.dumps({"id": "3", "name": "Scan json "})
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1100,
            "Completion Time": 1500, "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Input Metrics": {"Bytes Read": 2 * eventlog.MB, "Records Read": 7},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 10**8, "JVM GC Time": 0,
            "Input Metrics": {"Bytes Read": eventlog.MB, "Records Read": 3}}},
        # stage 1 was skipped: no completion event, not counted
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Submission Time": 2000,
            "Completion Time": 2200, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 10**8, "JVM GC Time": 0,
            "Output Metrics": {"Bytes Written": 4096, "Records Written": 9}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
    ]
    return [json.dumps(e) for e in events] + [""]


def test_eventlog_attributes_jobs_stages_and_tasks_to_groups():
    groups = eventlog.parse(_log())
    g = groups["op0"]
    assert g.jobs == [(1.0, 1.6)]
    assert [(s.stage_id, s.start, s.end, s.tasks, s.json_scan) for s in g.stages] == [
        (0, 1.1, 1.5, 2, True)
    ]
    assert g.tasks == 2
    assert g.executor_run_s == pytest.approx(0.4)
    assert g.executor_cpu_s == pytest.approx(0.3)
    assert g.gc_s == pytest.approx(0.01)
    assert g.spill_bytes == 6
    assert g.input_bytes == 3 * eventlog.MB
    assert g.shuffle_write_bytes == 100
    other = groups[""]
    assert other.jobs == [(2.0, 2.3)] and other.output_records == 9
    assert not other.stages[0].json_scan


def test_eventlog_parse_dir_reads_parts_in_numeric_order(tmp_path):
    lines = _log()
    (tmp_path / "events_10_app").write_text("\n".join(lines[5:]))
    (tmp_path / "events_2_app").write_text("\n".join(lines[:5]))
    (tmp_path / "appstatus_app").write_text("not json")
    groups = eventlog.parse_dir(str(tmp_path))
    assert groups["op0"].jobs == [(1.0, 1.6)]
    assert groups[""].jobs == [(2.0, 2.3)]


# -- spans --------------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span("root", 0.0, 10.0, children=[1, 2, 3]),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        Span("c", 9.0, 12.0, parent=0),  # clipped to 9..10
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 1)
    assert self_time(spans[1], spans) == pytest.approx(3)


def test_tracer_nests_spans_and_records_only_when_enabled():
    tr = Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []
    tr.enabled, tr.op = True, "op0"
    f = tr.wrap("outer", lambda: tr.wrap("inner", lambda: 7)())
    assert f() == 7
    outer, inner = tr.spans
    assert (outer.name, inner.name, inner.parent, outer.children) == ("outer", "inner", 0, [1])
    assert tr.of_op("op0") == [outer, inner]


def test_tracer_patch_and_restore_module_attr_and_dict_entry():
    module = types.SimpleNamespace(f=lambda: 1)
    table = {"q": lambda: 2}
    orig_f, orig_q = module.f, table["q"]
    tr = Tracer()
    tr.enabled = True
    tr.patch(module, "f", "module.f")
    tr.patch(table, "q", "plans.q")
    assert module.f() == 1 and table["q"]() == 2
    assert [s.name for s in tr.spans] == ["module.f", "plans.q"]
    tr.restore()
    assert module.f is orig_f and table["q"] is orig_q


# -- tail percentile --------------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct, rank",
    [(1, 100.0, 1), (4, 75.0, 3), (5, 60.0, 3), (20, 55.0, 11), (21, 52.38, 11),
     (100, 90.0, 90), (110, 90.91, 100)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct, rank):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    got_pct, got = tail_percentile(values)
    assert round(got_pct, 2) == pct
    assert got == float(rank)
    if n >= 21:
        assert sum(v > got for v in values) == 10


# -- BENCHMARK.json ----------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_this_script_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: per_layer_unit(n) for n in PER_LAYER
    }
