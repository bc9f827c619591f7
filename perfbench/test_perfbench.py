"""Self-tests of the benchmark's helpers (no JVM needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from core import (
    eventlog_counters,
    percentile,
    reportable,
    samples_beyond,
    tree_cpu_s,
    tree_hwm_mb,
    valid_name,
    valid_unit,
)
from inputs import match_lists, reference_strings, request_pool
from workloads import END_TO_END, GATED, PER_LAYER, WORKLOADS, bcubed_f1

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


# ------------------------------------------------ percentile sample rule
def test_p90_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 90) == 10
    assert reportable(100, 90)
    assert samples_beyond(99, 90) == 9
    assert not reportable(99, 90)
    assert reportable(20, 50) and not reportable(19, 50)
    assert not reportable(0, 50)


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(reversed(vals), 90) == 90
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


# ------------------------------------------------------- metric names
@pytest.mark.parametrize("name", ["setup_s", "a", "mapside.pair_recall",
                                  "x-1.y_2", "9lives", "a" * 64])
def test_valid_names(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "a" * 65,
                                  "é", "a\n"])
def test_invalid_names(name):
    assert not valid_name(name)


def test_registry_names_units_and_uniqueness():
    names = [m[0] for m in END_TO_END] + [m[0] for m in PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert valid_name(name), name
    for unit in {m[1] for m in END_TO_END} | {m[1] for m in PER_LAYER}:
        assert valid_unit(unit), unit
    assert set(GATED) <= {m[0] for m in END_TO_END}
    assert len(PER_LAYER) <= 128


def test_benchmark_json_matches_registry():
    if not BENCHMARK.exists():
        pytest.skip("no BENCHMARK.json next to the benchmark")
    spec = json.loads(BENCHMARK.read_text())
    e2e = {m[0]: m for m in END_TO_END}
    assert [m["name"] for m in spec["end_to_end"]] == list(GATED)
    for m in spec["end_to_end"]:
        _, unit, better = e2e[m["name"]]
        assert (m["unit"], m["better"]) == (unit, better)
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == list(PER_LAYER)
    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS


# ----------------------------------------------------------- inputs
def test_same_seed_same_inputs():
    refs = reference_strings(5, 50)
    assert refs == reference_strings(5, 50)
    assert request_pool(5, refs, 10, 4) == request_pool(5, refs, 10, 4)
    assert match_lists(5, 30, 8) == match_lists(5, 30, 8)


def test_different_seed_different_inputs():
    assert reference_strings(5, 50) != reference_strings(6, 50)
    refs = reference_strings(5, 50)
    assert request_pool(5, refs, 10, 4) != request_pool(6, refs, 10, 4)
    assert match_lists(5, 30, 8) != match_lists(6, 30, 8)


def test_inputs_shape():
    refs = reference_strings(1, 200)
    assert len(set(refs)) == 200
    for keys, src in request_pool(1, refs, 20, 16):
        assert len(keys) == len(src) == 16
        assert all(0 <= i < 200 for i in src)
    frm, to, truth = match_lists(1, 40, 10)
    assert len(frm) == len(truth) == 10 and len(to) == 40


# ----------------------------------------------------------- quality
def test_bcubed_f1():
    labels = {1: "a", 2: "a", 3: "b"}
    assert bcubed_f1({1: 0, 2: 0, 3: 1}, labels) == 1.0
    # all singletons: precision 1, recall (1/2 + 1/2 + 1) / 3
    r = 2 / 3
    assert bcubed_f1({}, labels) == pytest.approx(2 * r / (1 + r))
    # one cluster: recall 1, precision (2/3 + 2/3 + 1/3) / 3
    p = 5 / 9
    assert bcubed_f1({1: 0, 2: 0, 3: 0}, labels) == \
        pytest.approx(2 * p / (1 + p))


# ------------------------------------------------- process accounting
def test_tree_accounting_reads_this_process():
    assert tree_cpu_s() > 0
    assert tree_hwm_mb() > 1


# --------------------------------------------------------- event log
def test_eventlog_counters(tmp_path):
    def job(jid, group, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    def task(stage, run_ms, reason="Success", shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Disk Bytes Spilled": spill,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": shuffle}}}

    events = [
        job(0, "span-0", [0, 1]), task(0, 1500, shuffle=2_000_000),
        task(1, 500), job(1, "span-1", [1, 2]), task(2, 250,
                                                     reason="ExceptionFailure",
                                                     spill=3_000_000),
        job(2, None, [3]), task(3, 9999),
    ]
    log = tmp_path / "eventlog_v2_x" / "events_1_x"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n"
                           for e in events))
    out = eventlog_counters(str(tmp_path), {"span-0": "a", "span-1": "b"})
    assert out["a"] == {"task_s": 2.0, "jobs": 1, "shuffle_mb": 2.0,
                        "spill_mb": 0.0, "failed_tasks": 0}
    # stage 1 was listed again by job 1 (skipped there): it stays with "a"
    assert out["b"] == {"task_s": 0.25, "jobs": 1, "shuffle_mb": 0.0,
                        "spill_mb": 3.0, "failed_tasks": 1}
