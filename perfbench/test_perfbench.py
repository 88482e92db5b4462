"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The failure-capture and metric-name tests drive the runner with stand-in
operations and need no Spark; the ``etl`` test starts one small session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import datagen, metrics, run
from perfbench.probes import SparkProbe, Tracer
from perfbench.workloads import WORKLOADS, Etl, Op

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


class _FakeSpark:
    catalog = SimpleNamespace(clearCache=lambda: None)
    sparkContext = SimpleNamespace(setJobGroup=lambda *_: None)


class _Planted:
    """Stand-in workload: one good, one wrong and one raising operation."""

    def write_roots(self):
        return []

    def end_pass(self, _no):
        pass

    def ops(self, _spark, _no):
        def boom(_):
            raise ConnectionError("planted failure") from MemoryError("root cause")

        expect = lambda want: lambda got: None if got == want else f"{got} != {want}"  # noqa: E731
        return [
            Op("good", execute=lambda _: 1, check=expect(1)),
            Op("wrong", execute=lambda _: 2, check=expect(1)),
            Op("raises", build=lambda: None, execute=boom, check=expect(1)),
        ]


def _planted_report(trace: int) -> dict:
    runner = run.Runner(_Planted(), _FakeSpark(), Tracer("t", enabled=False))
    passes = [runner.run_pass(no, traced=bool(trace)) for no in range(run.TIMED_PASSES)]
    if trace:
        passes.append(runner.run_pass(run.TIMED_PASSES, extra=True))
    report = {
        "workload": "curation", "seed": 1, "trace": trace, "run_id": "t", "width": "local[1]",
        "nproc": 1, "loadavg_start": (0.0, 0.0, 0.0), "steal_s": 0.0, "passes": len(passes),
        "attempted": runner.attempted, "failed": len(runner.failures),
        "failures": runner.failures, "bench.prep_s": 0.0,
        "end_to_end": metrics.end_to_end(1.0, passes, 1.0),
    }
    if trace:
        report["per_layer"] = metrics.per_layer({}, passes, 0)
    return report


def test_planted_wrong_and_raising_ops_are_failures_and_summary_prints():
    report = _planted_report(trace=0)
    assert (report["attempted"], report["failed"]) == (6, 4)
    errors = {f["op"]: f["error"] for f in report["failures"]}
    assert errors["wrong"] == "2 != 1"
    assert errors["raises"] == "MemoryError: root cause"
    lines = run.summary_lines(report)
    assert "failed_ops=0.6667 ratio (4/6)" in lines[1]
    assert any("FAILED" in line and "MemoryError" in line for line in lines)
    result = json.loads(run.result_line(report))
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (6, 4)


def test_end_to_end_is_the_median_over_the_timed_passes():
    def done(no, latencies, cpu_s, extra=False):
        p = metrics.PassResult(no, traced=False, extra=extra, cpu_s=cpu_s)
        p.ops = [metrics.OpRecord(f"op{i}", exec_s=s) for i, s in enumerate(latencies)]
        return p

    passes = [done(0, [1.0, 2.0, 9.0], 30.0), done(1, [1.0, 1.0, 5.0], 20.0),
              done(2, [50.0, 50.0, 50.0], 99.0, extra=True)]
    assert metrics.end_to_end(3.0, passes, 100.0) == {
        "setup_s": 3.0, "wall_s": 9.5, "cpu_s": 25.0, "op_p50_s": 1.5, "op_max_s": 7.0,
        "peak_rss_mb": 100.0,
    }


@pytest.mark.parametrize("trace", [0, 1])
def test_every_benchmark_json_metric_is_printed(trace):
    spec = _benchmark_json()
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = json.loads(run.result_line(_planted_report(trace)))["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(isinstance(v["value"], float) for v in got.values())


def test_benchmark_json_matches_definitions():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        metrics.END_TO_END
    )
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for m in spec["per_layer"]:
        metrics.target_of(m["name"])  # every layer metric names what it should move


def test_tables_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.write_tables(str(tmp_path / name), 0.001, seed)
    read = lambda d: (tmp_path / d / "lineitem.parquet").read_bytes()  # noqa: E731
    assert read("a") == read("b") != read("c")


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    spark = run.start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield spark
    run.stop_session(spark)


def test_python_rows_count_only_executions_after_the_mark(spark):
    from pyspark.sql.functions import udf

    plus_one = udf(lambda x: x + 1, "long")

    def query():
        spark.range(100).select(plus_one("id")).collect()

    def traced(probe):
        mark = probe.mark()
        query()
        return probe.since(mark).python_rows

    alone = traced(SparkProbe(spark))
    probe = SparkProbe(spark)
    query()  # an untraced pass between the probe's start and the traced one
    assert alone == traced(probe) == 100


def test_etl_seeds_give_different_inputs_and_both_pass(spark, tmp_path):
    from brazilian_e_commerce_data_pipeline_analytics_spark.registry import all_queries

    cache = str(tmp_path / "cache")
    inputs = []
    for seed in (3, 4):
        wl = Etl(ROOT, cache, str(tmp_path / f"run{seed}"), seed)
        wl.prepare(all_queries())
        runner = run.Runner(wl, spark, Tracer("t", enabled=False))
        runner.run_pass(1)
        assert runner.attempted == len(wl.ops(spark, 1))
        assert runner.failures == [], runner.failures
        inputs.append([
            open(p, "rb").read()
            for p in [*wl.batches, os.path.join(wl.csv_dir, "orders.csv")]
        ])
    assert all(a != b for a, b in zip(*inputs))
