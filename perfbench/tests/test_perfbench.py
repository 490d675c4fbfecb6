"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs measure the committed inputs and start a Spark session each
(one to two minutes apiece on four cores); everything else runs in a few
seconds.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import spans  # noqa: E402
import verify  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_generator_is_deterministic_and_seed_sensitive(tmp_path):
    a = gen.write_sf(tmp_path / "a", 7, "sf0.001")
    b = gen.write_sf(tmp_path / "b", 7, "sf0.001")
    gen.write_sf(tmp_path / "c", 8, "sf0.001")
    assert a == b
    assert gen.digest(tmp_path / "a") == gen.digest(tmp_path / "b")
    assert gen.digest(tmp_path / "a") != gen.digest(tmp_path / "c")


def test_generator_keeps_foreign_keys_consistent(tmp_path):
    gen.write_sf(tmp_path, 3, "sf0.01")
    con = verify.duck(str(tmp_path))
    orphans = con.sql("""
        SELECT (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
             + (SELECT COUNT(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey)
             + (SELECT COUNT(*) FROM lineitem l ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)
             + (SELECT COUNT(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
             + (SELECT COUNT(*) FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey)
    """).fetchone()[0]
    assert orphans == 0


def test_generator_reproduces_the_measured_test_table_shape(tmp_path):
    sizes = gen.write_sf(tmp_path, 4, "sf0.01")
    assert {t: v["rows"] for t, v in sizes.items() if t in gen.SCALES["sf0.01"]} \
        == gen.SCALES["sf0.01"]
    con = verify.duck(str(tmp_path))
    users, items, dups = con.sql("""
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events),
               (SELECT COUNT(DISTINCT props) FROM events),
               (SELECT COUNT(*) FROM documents WHERE text LIKE '% dup')
    """).fetchone()
    assert (users, items, dups) == (150, 100, 25)


def _span(sid, parent, start, end, layer="session"):
    return {"id": sid, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_children_once_and_clips_them():
    s = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: covered once
        _span(4, 2, 2.0, 3.0),
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped to 9..10
    ]
    t = spans.self_times(s)
    assert t[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert t[2] == pytest.approx(3.0 - 1.0)
    assert t[3] == pytest.approx(3.0)
    assert t[4] == pytest.approx(1.0)
    assert t[5] == pytest.approx(3.0)


def test_tracer_nests_spans_per_thread():
    tr = spans.Tracer("t")
    with tr.span("model.gan", "outer"):
        with tr.span("operators.ranking", "inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    with pytest.raises(ValueError):
        with tr.span("no.such.layer", "x"):
            pass


def test_event_log_attribution_by_group_then_by_time(tmp_path):
    s = [dict(_span(1, None, 100.0, 110.0, "operators.text"), id=1),
         dict(_span(2, None, 200.0, 210.0, "operators.vectors"), id=2)]
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 105_000,
         "Properties": {"spark.jobGroup.id": "pbspan-2"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 101_000, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 101_000},
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 101_500},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 250,
                          "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 5,
                          "Shuffle Read Metrics": {"Local Bytes Read": 100},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
    ]
    log = tmp_path / "log"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = spans.parse_event_log(log)
    m = spans.layer_metrics(s, jobs, stages)
    assert m["operators.vectors.jobs"]["value"] == 1  # by its job group
    assert m["operators.text.jobs"]["value"] == 1  # by submission time
    assert m["operators.text.tasks"]["value"] == 1
    assert m["operators.text.task_cpu_s"]["value"] == pytest.approx(2.0)
    assert m["operators.text.wait_s"]["value"] == pytest.approx(0.5)
    assert m["operators.text.gc_s"]["value"] == pytest.approx(0.25)
    assert m["operators.text.spill_bytes"]["value"] == 15
    assert m["operators.text.shuffle_bytes"]["value"] == 150
    assert m["operators.text.self_s"]["value"] == pytest.approx(10.0)


def test_metric_names_and_units_are_well_formed():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    emitted = set(spans.layer_metrics([], [], {})) | {
        "sources.sinks.files_written", "sources.sinks.bytes_written", "trace_overhead_s",
        "peak_rss_mb"}
    declared = {m["name"] for m in spec["per_layer"]}
    assert declared == emitted
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    assert len(spec["per_layer"]) <= 128


def test_a_raising_operation_or_check_counts_as_failed():
    import workloads

    def broken():
        raise KeyError("metrics")

    attempted, problems = workloads._checked(
        {"ok": lambda: [], "bad": lambda: ["off by one"], "missing": broken},
        ["train_eval: raised RuntimeError: boom"])
    assert attempted == 4 and len(problems) == 3


def test_compare_is_order_insensitive_and_strict_on_values():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    b = pd.DataFrame({"V": [1.25, 0.5], "K": [2, 1]})
    assert verify.compare(a, b) == []
    assert verify.compare(a, b.assign(V=[1.25, 0.51]))
    assert verify.compare(a, b.iloc[:1])


def _run(workload, *extra, trace=0, record=False):
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    return (p.returncode, res, json.loads(lines[-2])) if record else (p.returncode, res)


@pytest.mark.parametrize("workload", ["rec_lifecycle", "curation_sql"])
def test_run_verifies_and_a_planted_fault_fails(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    code, res = _run(workload)
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
    code, res = _run(workload, "--plant-fault")
    assert code == 1 and not res["correct"]
    assert res["failed"] >= 1 and res["failed"] / res["attempted"] > 0


@pytest.mark.parametrize("workload,busy,idle", [
    ("rec_lifecycle", ["model.gan", "operators.recsplit", "operators.ranking",
                       "sources.sinks", "operators.stats"], ["operators.text", "operators.tpch"]),
    ("curation_sql", ["operators.text", "operators.vectors", "operators.relational",
                      "operators.tpch", "operators.warehouse", "operators.analytics",
                      "streaming.windows", "sources.io"], ["model.gan", "operators.recsplit"]),
])
def test_traced_run_attributes_work_to_the_workloads_layers(workload, busy, idle):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    code, res, rec = _run(workload, trace=1, record=True)
    assert code == 0 and res["correct"]
    # tracing adds forced counts but leaves the program's own jobs as they are
    assert rec["jobs"]["traced"]["program"] == rec["jobs"]["untraced"]["program"]
    assert rec["jobs"]["untraced"]["forced"] == 0
    m = res["metrics"]
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    assert m["session.jobs"]["value"] > 0  # the warm-up
    for layer in busy:
        assert m[f"{layer}.jobs"]["value"] > 0, layer
        assert m[f"{layer}.self_s"]["value"] > 0, layer
    for layer in idle:
        assert m[f"{layer}.jobs"]["value"] == 0, layer
