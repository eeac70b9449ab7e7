"""Benchmark of the billing analytics engine: one run of one workload.

    python3 perfbench/run.py --workload billing_etl --seed 1 --seconds 30 --trace 0

Run from the repository root. A run starts one fresh process (worker.py),
a new JVM on ``local[<nproc>]``, times its set-up, runs the workload's
closed loop for ``--seconds`` and checks every collected frame against the
DuckDB oracle.

``--seed`` sets the key order of every warm pass; the fixture data is fixed
(the vendored seed-42 tables). With ``--trace 0`` the last line of stdout
is the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run. Spark/JVM output goes to ``<run dir>/spark.log``; the run
record (environment, per-pass timings, failures) to ``<run dir>/run.json``
and, traced, the span tree to ``<run dir>/trace.json``. Run dirs live
under ``perfbench/.runs/``; each run's scratch (TMPDIR, Spark local dirs)
is fresh and removed at the end.

See perfbench/README.md for the workloads, metrics and baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from worker import cpu_times, steal_frac  # noqa: E402
from workloads import SF_DIR, WORKLOADS  # noqa: E402

#: Driver heap of every benchmark JVM. The package default (48g) is sized
#: for a large host; the benchmark pins a size that fits a small one and
#: records it.
DRIVER_MEMORY = "3g"

#: Per-process wall limit, so a hung JVM cannot outlive the run.
PROCESS_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.persisted_rdds": "count",
    "session.jvm_heap_mb": "MB",
    "plans.catalog_import_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.broadcast_exchanges": "count",
    "spark.sort_merge_joins": "count",
    "spark.single_partition_exchanges": "count",
    "tables.scan_s": "s",
    "tables.files_read": "count",
    "tables.scan_mb": "MB",
    "python_boundary.nodes": "count",
    "python_boundary.worker_run_s": "s",
    "python_boundary.worker_start_s": "s",
    "python_boundary.worker_init_s": "s",
    "python_boundary.sent_mb": "MB",
    "python_boundary.returned_mb": "MB",
    "collect.handoff_s": "s",
    "collect.rows": "count",
    "collect.driver_cpu_s": "s",
    "sources.output_mb": "MB",
    "sources.output_rows": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "oracle.mismatches": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None  # a source export without git metadata
    return out.stdout.strip()


def _child_env(run_dir: Path) -> dict[str, str]:
    env = dict(os.environ)
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "BDL_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_ORACLE_SF_DIR": str(SF_DIR),
        "PYTHONHASHSEED": "0",
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (the worker, its JVM and the JVM's
    Python workers) and wait until every member has exited."""
    deadline = time.monotonic() + 20
    while True:
        proc.poll()  # reap the worker once it exits, so it leaves the group
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def _spawn(args: list[str], out: Path, run_dir: Path, env, log) -> dict:
    """Run the worker process to completion; its result JSON, or raise."""
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), "--t0", repr(t0),
         "--out", str(out), *args],
        cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=log,
        stderr=subprocess.STDOUT, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=PROCESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc)
    if code is None:
        raise RuntimeError(f"worker exceeded {PROCESS_TIMEOUT_S}s")
    if code != 0 or not out.exists():
        raise RuntimeError(f"worker exited with code {code}")
    return json.loads(out.read_text())


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, Path]:
    """One benchmark run; returns the run record and its directory."""
    runs = HERE / ".runs"
    runs.mkdir(exist_ok=True)
    run_dir = runs / f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}-{time.time_ns()}"
    run_dir.mkdir()
    env = _child_env(run_dir)
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "commit": _commit(), "nproc": _cpus(),
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "bdl_driver_memory": env["BDL_DRIVER_MEMORY"],
        "loadavg_start": os.getloadavg(),
    }
    cpu_start = cpu_times()
    try:
        with open(run_dir / "spark.log", "w") as log:
            res = _spawn(
                ["--workload", workload, "--seed", str(seed),
                 "--seconds", repr(seconds), "--trace", str(int(trace))],
                run_dir / "measure.json", run_dir, env, log,
            )
    finally:
        shutil.rmtree(run_dir / "tmp", ignore_errors=True)
        shutil.rmtree(run_dir / "spark-local", ignore_errors=True)
    record["loadavg_end"] = os.getloadavg()
    record["cpu_steal_frac"] = steal_frac(cpu_start, cpu_times())
    record.update(res)
    (run_dir / "run.json").write_text(json.dumps(record, indent=1))
    return record, run_dir


def result_line(record: dict) -> dict:
    """The contract's last stdout line for a finished run."""
    loop = record["loop"]
    if record["trace"]:
        metrics = {n: {"value": record["layers"][n], "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        values = {**loop, "setup_s": record["setup"]["setup_s"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    return {
        "correct": loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "billing_data_loader_spark").is_dir():
        print(f"package billing_data_loader_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    try:
        record, run_dir = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except (RuntimeError, OSError, ValueError, KeyError) as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    env = {k: record[k] for k in ("commit", "nproc", "spark_graft_cpus",
                                  "bdl_driver_memory", "loadavg_start",
                                  "loadavg_end", "cpu_steal_frac")}
    print(f"run dir {run_dir} environment {json.dumps({**env, **record['environment']})}",
          file=sys.stderr)
    for failure in record["failures"]:
        print(f"FAILED pass {failure['pass']} {failure['key']}: "
              f"{failure.get('mismatch') or failure.get('raised')}", file=sys.stderr)
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
