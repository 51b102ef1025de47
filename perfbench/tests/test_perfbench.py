"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import cold, run, tracing  # noqa: E402

SF = str(ROOT / json.loads((ROOT / "perfbench" / "workloads.json").read_text())["data_dir"])


def test_self_time_on_nested_spans():
    S = tracing.Span
    spans = [
        S(0, "root", "m", "q", None, 0.0, 10.0),
        S(1, "a", "m", "q", 0, 1.0, 4.0),
        S(2, "b", "m", "q", 0, 3.0, 6.0),   # overlaps a: union of kids is [1, 6]
        S(3, "a1", "m", "q", 1, 2.0, 3.0),
        S(4, "late", "m", "q", 0, 9.5, 12.0),  # clipped to the parent's end
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx({0: 4.5, 1: 2.0, 2: 3.0, 3: 1.0, 4: 2.5})


def test_parse_metric_reads_the_total():
    assert tracing.parse_metric("1,625") == 1625
    assert tracing.parse_metric("472 ms") == pytest.approx(0.472)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n83.2 KiB (528.0 B, 2.7 KiB, 8.6 KiB "
        "(stage 6.0: task 94))") == pytest.approx(83.2 * 1024)
    assert tracing.parse_metric(None) == 0.0


def test_benchmark_json_matches_the_harness():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: run.LAYER_UNITS[k] for k in run.REPORTED}
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    assert {q for w in spec["workloads"].values() for q in w["queries"]} <= set(expected)


@pytest.fixture(scope="module")
def conf():
    """Session conf of a run; stops the JVM after the module's tests."""
    yield run.prepare_env()
    run.shutdown_jvm()


def _traced_pass(conf, names):
    """A traced pass exactly as ``run.py --trace 1`` makes it, and its metrics."""
    from inputosm_spark.queries_catalog import oracle_sql, queries

    from perfbench.expected import expected_for

    expected, _ = expected_for(names, oracle_sql(), SF)
    rec = run.run_pass(conf, 4, names, queries(), SF, expected, tracing.Tracer)
    assert all(r["ok"] for r in rec["queries"].values()), rec["queries"]
    return rec, *run.layer_metrics(rec)


def test_cell_assign_action_is_one_job(conf):
    rec, _, per_q = _traced_pass(conf, ["cell_assign"])
    (action,) = [s for s in rec["spans"] if s.name == "cell_assign.action"]
    assert len(action.jobs) == 1
    assert per_q["cell_assign"]["action.jobs"] == 1


def test_span_jobs_sum_to_status_tracker_count(conf):
    rec, m, _ = _traced_pass(conf, ["cell_assign", "salted_cell_count", "pbf_roundtrip"])
    attributed = [j for s in rec["spans"] for j in s.jobs]
    total = rec["harvest"]["jobs_total"]
    assert len(attributed) == len(set(attributed)) == total > 3
    # every job outside the session warm-up is a query's build or action job
    warmup = sum(len(s.jobs) for s in rec["spans"] if s.module == "session")
    assert m["build.jobs"] + m["action.jobs"] == total - warmup
    assert m["sources.pbf_encode.jobs"] > 0


def test_cold_guard_trips_on_leaked_cache(conf):
    spark, _ = cold.start_session(4, conf)
    try:
        df = spark.range(100).cache()
        df.count()
        with pytest.raises(cold.ColdViolation):
            cold.assert_cold(spark)
        assert cold.release(spark) == (1, 1)
        cold.assert_cold(spark)
    finally:
        spark.stop()
