"""Self-tests of the benchmark harness, on the sf0.001 smoke fixture.

    python3 -m pytest perfbench/tests -q

They check the harness, not the package: the metrics it prints, the
per-layer probes of a traced pass, and that the oracle gate catches a
wrong answer.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

# Package scratch (staged corpora, checkpoints) goes to a private TMPDIR,
# chosen before the package is imported because it resolves it at import.
os.environ["TMPDIR"] = tempfile.mkdtemp(prefix="perfbench_selftest_")
tempfile.tempdir = None

import run as bench  # noqa: E402
import spark_trace  # noqa: E402
import worker  # noqa: E402
from workloads import SMOKE_SF_DIR, WORKLOADS  # noqa: E402

SMOKE = str(SMOKE_SF_DIR)

#: One key per workload, plus the keys whose layer each probe asserts on.
TRACED_KEYS = (
    "agg_q1_pricing",
    "ext_ann_ivf",
    "sink_parquet_partitioned",
    "stream_availablenow_replay",
    "ext_minhash_est_error",
)


@pytest.fixture(scope="module")
def session():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("BDL_DRIVER_MEMORY", bench.DRIVER_MEMORY)
    spark, specs, setup = worker.setup(time.time())
    yield spark, specs, setup
    spark.stop()


@pytest.fixture(scope="module")
def traced(session):
    """Traced cold pass, warm-up pass, traced pass 2, untraced pass 3."""
    spark, specs, setup = session
    tracer = spark_trace.Tracer(spark)
    passes = worker.run_passes(
        spark, specs, TRACED_KEYS, SMOKE, seed=7, seconds=0, tracer=tracer,
        min_passes=4,
    )
    layers = spark_trace.layer_metrics(passes, passes[2:], setup, [])
    return passes, layers


def _key(passes, key):
    return spark_trace.key_counts(passes[2], key)


def test_benchmark_json_matches_harness():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def test_every_end_to_end_metric_printed_with_unit(session):
    spark, specs, setup = session
    passes = worker.run_passes(
        spark, specs, ["agg_q1_pricing", "win_topk_per_group"], SMOKE, seed=3,
        seconds=0,
    )
    failures = worker.gate(passes, specs, SMOKE)
    record = {"trace": False,
              "setup": {"setup_s": setup["session_ready_s"] + passes[0].wall_s},
              "loop": worker.loop_metrics(passes, failures)}
    line = json.loads(json.dumps(bench.result_line(record)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0
    assert line["attempted"] == 2 * worker.MIN_PASSES
    assert set(line["metrics"]) == set(bench.END_TO_END)
    for name, metric in line["metrics"].items():
        assert metric["unit"] == bench.END_TO_END[name]
        assert metric["value"] > 0, name


def test_traced_record_has_every_layer_metric(traced):
    passes, layers = traced
    assert set(layers) == set(bench.PER_LAYER)
    assert [p.traced for p in passes] == [True, False, True, False]


def test_python_boundary_seen_on_ann_only(traced):
    passes, _ = traced
    assert _key(passes, "ext_ann_ivf")["python_boundary.worker_run_s"] > 0
    assert _key(passes, "agg_q1_pricing")["python_boundary.nodes"] == 0
    # stateful streaming nodes also define the Python-worker metrics
    assert _key(passes, "stream_availablenow_replay")["python_boundary.nodes"] == 0


def test_sink_output_counted(traced):
    passes, _ = traced
    assert _key(passes, "sink_parquet_partitioned")["sources.output_mb"] > 0


def test_micro_batches_counted(traced):
    passes, _ = traced
    assert _key(passes, "stream_availablenow_replay")["streaming.batches"] > 0


def test_spark_tasks_counted(traced):
    passes, _ = traced
    assert _key(passes, "agg_q1_pricing")["spark.tasks"] > 0


def test_minhash_fan_out_visible(traced):
    passes, _ = traced
    rec = _key(passes, "ext_minhash_est_error")
    assert rec["spark.stages"] >= 10
    assert rec["spark.tasks"] >= 100


def test_gate_reports_altered_expectation(session):
    from billing_data_loader_spark.oracle import run_oracle

    spark, specs, _ = session
    passes = worker.run_passes(
        spark, specs, ["agg_q1_pricing"], SMOKE, seed=1, seconds=0, min_passes=2,
    )
    assert worker.gate(passes, specs, SMOKE) == []
    altered = run_oracle(specs["agg_q1_pricing"].oracle, SMOKE)
    altered.loc[0, "count_order"] += 1
    failures = worker.gate(passes, specs, SMOKE, {"agg_q1_pricing": altered})
    assert len(failures) == 2
    assert all("mismatch" in f for f in failures)
    # a wrong answer in a later pass is compared, not matched to pass 0's
    wrong = passes[1].executions[0]
    wrong.frame = wrong.frame.copy()
    wrong.frame.loc[0, "count_order"] += 1
    failures = worker.gate(passes, specs, SMOKE)
    assert [(f["pass"], "mismatch" in f) for f in failures] == [(1, True)]


def test_raised_query_counts_as_failed(session):
    spark, _, _ = session

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    specs = {"boom": SimpleNamespace(key="boom", fn=boom, oracle=None)}
    passes = worker.run_passes(spark, specs, ["boom"], SMOKE, seed=1, seconds=0)
    failures = worker.gate(passes, specs, SMOKE)
    assert [f["key"] for f in failures] == ["boom"] * worker.MIN_PASSES
    assert all("raised" in f for f in failures)
    assert worker.loop_metrics(passes, failures)["failed"] == worker.MIN_PASSES


def test_parse_metric_units():
    parse = spark_trace.parse_metric
    assert parse("total (min, med, max (stageId: taskId))\n8.6 s (2.1 s, 2.1 s, "
                 "2.2 s (stage 3.0: task 2))") == pytest.approx(8.6)
    assert parse("750 ms") == pytest.approx(0.75)
    assert parse("4.5 KiB") == pytest.approx(4.5 * 1024)
    assert parse("1,234") == 1234


def test_self_time_subtracts_union_of_children():
    Span = spark_trace.Span
    spans = [Span(0, None, "key", 0.0, 10.0), Span(1, 0, "job", 1.0, 4.0),
             Span(2, 0, "job", 3.0, 6.0)]
    assert spark_trace.self_times(spans) == {"key": 5.0, "job": 6.0}


def test_pass_time_sums_per_key_minimums():
    def ex(key, latency):
        return SimpleNamespace(key=key, latency_s=latency)

    passes = [SimpleNamespace(executions=[ex("a", a), ex("b", b)])
              for a, b in [(1.2, 0.3), (9.0, 0.25), (1.0, 0.4)]]
    # the 9 s execution of "a" (a burst of stolen CPU) does not count
    assert worker.pass_time(passes) == pytest.approx(1.0 + 0.25)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "billing_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
