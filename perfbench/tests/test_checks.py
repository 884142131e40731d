"""The per-turn oracle and the benchmark's own declarations."""

import json
import os

from perfbench import checks, host, run, workloads


def test_differential_accepts_the_kernel_and_flags_a_changed_chunk():
    pdf = workloads.job_chat(2, 60)
    keys = checks.sample_keys(pdf, 2, 20)
    texts = dict(zip(zip(pdf["conv_id"], pdf["turn_idx"]), pdf["text"]))
    statuses, rows = {}, []
    for k in keys:
        statuses[k], exp = checks.expected_turn(k[0], k[1], texts[k])
        rows += exp
    assert checks.differential(pdf, keys, statuses, rows) == []
    bad = list(rows)
    bad[0] = bad[0][:4] + ("other text",) + bad[0][5:]
    assert len(checks.differential(pdf, keys, statuses, bad)) == 1
    assert checks.differential(pdf, keys, statuses, bad[1:], subset=True) == []


def test_expected_table_counts_every_turn():
    pdf = workloads.job_chat(2, 300)
    exp = checks.expected_table(pdf)
    assert sum(exp["counts"].values()) == 300 == len(exp["status_rows"])
    assert exp["counts"]["empty"] == 3
    assert exp["turns"] == exp["counts"]["success"]
    assert exp["rows"] == len(exp["chunk_rows"])
    assert checks.expected_table(pdf, workers=3) == exp


def test_contention_flags():
    calm = {"nproc": 4, "load1": 0.1, "load5": 0.1, "cpu_busy": 0.01,
            "calibration_ms": 10.0}
    assert host.contention_flags(calm, calm) == []
    busy = dict(calm, cpu_busy=0.9)
    slow = dict(calm, calibration_ms=20.0)
    assert len(host.contention_flags(busy, slow)) == 2


def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
