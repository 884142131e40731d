"""Parsing of Spark's formatted SQL metric strings."""

import pytest

from perfbench.sqlmetrics import parse_metric, parse_value

HEAD = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, value", [
    ("400", 400.0),
    ("1,234,567", 1234567.0),
    ("0.0 B", 0.0),
    ("17 B", 17.0),
    ("1.5 KiB", 1536.0),
    ("2.0 MiB", 2.0 * 2**20),
    ("1.0 GiB", 2.0**30),
    ("813 ms", 0.813),
    ("8.5 s", 8.5),
    ("1.2 m", 72.0),
    ("0.50 h", 1800.0),
])
def test_parse_value_units(text, value):
    assert parse_value(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "ms", "1.5 parsecs", "abc 3"])
def test_parse_value_rejects_garbage(text):
    with pytest.raises(ValueError):
        parse_value(text)


def test_timing_with_task_stats():
    m = parse_metric(HEAD + "8.5 s (2.1 s, 2.1 s, 2.2 s (stage 2.0: task 6))")
    assert m == pytest.approx({"total": 8.5, "min": 2.1, "med": 2.1, "max": 2.2})


def test_mixed_time_units_in_one_metric():
    m = parse_metric(HEAD + "3.4 s (813 ms, 860 ms, 869 ms (stage 2.0: task 6))")
    assert m == pytest.approx({"total": 3.4, "min": 0.813, "med": 0.86, "max": 0.869})


def test_size_with_task_stats():
    m = parse_metric(HEAD + "920.0 KiB (203.9 KiB, 235.0 KiB, 265.4 KiB (stage 2.0: task 6))")
    assert m["total"] == pytest.approx(920.0 * 1024)
    assert m["max"] == pytest.approx(265.4 * 1024)


def test_stats_without_stage_suffix():
    m = parse_metric(HEAD + "57 ms (9 ms, 16 ms, 18 ms)")
    assert m == pytest.approx({"total": 0.057, "min": 0.009, "med": 0.016, "max": 0.018})


@pytest.mark.parametrize("text, total", [("400", 400.0), ("0 ms", 0.0), ("0.0 B", 0.0)])
def test_single_values_have_no_task_stats(text, total):
    assert parse_metric(text) == {"total": total, "min": None, "med": None, "max": None}


def test_rejects_unknown_header_and_broken_stats():
    with pytest.raises(ValueError):
        parse_metric("min, med\n1 ms (1 ms, 1 ms, 1 ms)")
    with pytest.raises(ValueError):
        parse_metric(HEAD + "8.5 s (2.1 s, 2.2 s)")


def test_python_task_times_keep_only_in_task_time(tmp_path):
    from perfbench.layers import python_task_times

    cls = "org.apache.spark.sql.execution.python.MapInBatchEvaluatorFactory$MapInBatchEvaluator$$anon$1"
    log = tmp_path / "times.log"
    log.write_text(
        f"task 3.0 in stage 0.0 (TID 3)|{cls}|Times: total = 1499, boot = 955, init = 328, finish = 216\n"
        "|org.apache.spark.api.python.PythonAccumulatorV2|Connected to AccumulatorServer\n"
        f"task 1.0 in stage 1.0 (TID 5)|{cls}|Times: total = 150, boot = -1206, init = 1354, finish = 2\n")
    fresh, reused = python_task_times(str(log))
    assert (fresh["stage"], fresh["tid"]) == (0, 3)
    assert (fresh["boot"], fresh["init"], fresh["run"]) == (0.955, 0.328, 0.216)
    # a reused worker's init holds its idle wait since its previous task
    assert (reused["boot"], reused["init"], reused["run"]) == (0.0, 0.148, 0.002)
    for t in (fresh, reused):
        assert abs(t["boot"] + t["init"] + t["run"] - t["total"]) < 1e-9
