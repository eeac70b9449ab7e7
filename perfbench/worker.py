"""One benchmark process: timed set-up, then the closed loop.

``run.py`` starts this file as a fresh process, so set-up is measured from
process start: session up (``get_spark``), catalog imported
(``catalog()``) and every key answered once. The process runs passes over
the workload's keys with one client: the next query is issued only after
the previous ``fn(spark, sf_dir).toPandas()`` returns.

Pass 0 is the cold pass: the session's first queries and every key's first
execution, as a grading driver or a test session pays them; set-up ends
with it. Passes 1-3 finish warming the JVM (their times are recorded but
feed no metric; in fresh processes they still ran 30-60% slower than
later passes). Passes 4-11 are the timed warm passes. Passes after those
run only while ``--seconds`` has not yet elapsed; they are checked but
feed no metric. After timing stops every collected frame is checked
against the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import platform
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: The timed warm passes: a fixed window, so every run's medians cover
#: the same stretch of the JVM's warm-up curve (passes kept getting faster
#: through pass 15 in fresh processes, so a window that grew with the run
#: length would let a faster or luckier run report later, faster passes).
#: The window starts past the steepest part of that curve (passes 1-3
#: read 30-60% slower than pass 10) and is as long as the run budget
#: allows. In a traced run the window alternates traced/untraced passes,
#: so both sides of the tracing overhead are measured.
TIMED = range(4, 12)

#: Passes a run always completes, however long a pass takes.
MIN_PASSES = TIMED.stop


@dataclass
class Execution:
    pass_no: int
    key: str
    start: float  # epoch seconds, for attributing Spark's records
    construct_end: float
    end: float
    latency_s: float  # fn + toPandas, perf_counter
    construct_s: float
    collect_s: float
    driver_cpu_s: float
    rows: int = 0
    error: str | None = None
    frame: object = None  # the collected pandas frame
    persisted_rdds: int = 0


@dataclass
class Pass:
    no: int
    traced: bool
    start: float
    end: float = 0.0
    wall_s: float = 0.0
    executions: list[Execution] = field(default_factory=list)
    steal_frac: float = 0.0
    gc_s: float = 0.0
    heap_mb: float = 0.0
    jobs: list = field(default_factory=list)
    sql: list = field(default_factory=list)
    stream_events: list = field(default_factory=list)


def cpu_times() -> list[int]:
    """Aggregate CPU counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor took away between two readings:
    on a virtual machine a slowdown with no cause in the program shows up
    here."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def pass_time(passes: list[Pass]) -> float:
    """Wall time of one pass when nothing outside the program interferes:
    the sum over keys of each key's fastest latency in ``passes``.

    On a shared virtual machine the hypervisor steals CPU time in bursts
    that last from seconds to minutes and only ever add delay (a pass
    with 10% of CPU stolen read 30-40% slower). A key's fastest execution
    in the window is the estimate such bursts move least; a median moves
    as soon as half the window falls in a burst."""
    by_key: dict[str, list[float]] = {}
    for p in passes:
        for ex in p.executions:
            by_key.setdefault(ex.key, []).append(ex.latency_s)
    return sum(min(v) for v in by_key.values())


def setup(t0: float):
    """Session up and catalog imported; returns phase times from ``t0``."""
    from billing_data_loader_spark.session import get_spark

    t_import = time.time()
    spark = get_spark("perfbench")
    t_session = time.time()
    from billing_data_loader_spark.plans.catalog import catalog

    specs = catalog()
    t_ready = time.time()
    return spark, specs, {
        "session_ready_s": t_ready - t0,
        "import_s": t_import - t0,
        "get_spark_s": t_session - t_import,
        "catalog_import_s": t_ready - t_session,
    }


def _execute(spark, spec, sf_dir: str, pass_no: int, tracer) -> Execution:
    start = time.time()
    t = time.perf_counter()
    cpu = time.process_time()
    construct_end = None
    try:
        if tracer is not None:
            tracer.set_group(f"{spec.key}:construct")
        df = spec.fn(spark, sf_dir)
        construct_end = time.time()
        t_c = time.perf_counter()
        cpu_c = time.process_time()
        if tracer is not None:
            tracer.set_group(f"{spec.key}:collect")
        pdf = df.toPandas()
        t_e = time.perf_counter()
        ex = Execution(
            pass_no, spec.key, start, construct_end, time.time(), t_e - t,
            t_c - t, t_e - t_c, time.process_time() - cpu_c,
            rows=len(pdf), frame=pdf,
        )
    except Exception:  # noqa: BLE001 - a failed query is a counted outcome
        t_e = time.perf_counter()
        now = time.time()
        ex = Execution(
            pass_no, spec.key, start, construct_end or now, now, t_e - t,
            0.0, 0.0, time.process_time() - cpu,
            error=traceback.format_exc(limit=3),
        )
    if tracer is not None:
        tracer.clear_group()
        ex.persisted_rdds = tracer.persisted_rdds()
    return ex


def run_passes(spark, specs, keys, sf_dir: str, seed: int, seconds: float,
               tracer=None, min_passes: int = MIN_PASSES) -> list[Pass]:
    """Passes until ``seconds`` have elapsed since the loop started and at
    least ``min_passes`` are done. Each pass runs every key once. The cold
    pass runs them in the listed order, as a driver walks its fixed
    catalog, so cold_pass_s does not hinge on which key pays the session's
    first-query and first-Python-worker costs; every later pass runs them
    in an order drawn from ``seed``. With a tracer, the cold pass and the
    even passes are traced."""
    rng = random.Random(seed)
    passes: list[Pass] = []
    loop_start = time.perf_counter()
    while True:
        no = len(passes)
        order = list(keys)
        if no > 0:
            rng.shuffle(order)
        traced = tracer is not None and no % 2 == 0
        p = Pass(no, traced, time.time())
        gc0 = tracer.gc_s() if traced else 0.0
        cpu0 = cpu_times()
        t = time.perf_counter()
        for key in order:
            p.executions.append(
                _execute(spark, specs[key], sf_dir, no, tracer if traced else None)
            )
        p.wall_s = time.perf_counter() - t
        p.end = time.time()
        p.steal_frac = steal_frac(cpu0, cpu_times())
        if tracer is not None:
            tracer.wait_idle()
            if traced:
                p.gc_s = tracer.gc_s() - gc0
                p.heap_mb = tracer.heap_mb()
                p.jobs = tracer.new_jobs()
                p.sql = tracer.new_executions()
                p.stream_events = tracer.streams.drain()
            else:
                tracer.skip()
        passes.append(p)
        if (len(passes) >= min_passes
                and time.perf_counter() - loop_start >= seconds):
            return passes


def gate(passes: list[Pass], specs, sf_dir: str, expected=None) -> list[dict]:
    """Compare every execution's frame with the key's oracle frame.

    The oracle frame of each key is computed once, after timing stopped.
    A frame identical to one already compared for the same key (same
    labels, dtypes and values in the same order) takes that comparison's
    verdict, so each distinct answer is compared once. ``expected``
    replaces the oracle frames (the self-tests use it to prove an altered
    expectation is caught). Returns one record per failed execution."""
    from billing_data_loader_spark import oracle

    expected = dict(expected or {})
    verdicts: dict[str, list[tuple[object, str | None]]] = {}
    failures = []
    for p in passes:
        for ex in p.executions:
            if ex.error is not None:
                failures.append({"pass": p.no, "key": ex.key, "raised": ex.error})
                continue
            seen = verdicts.setdefault(ex.key, [])
            for frame, mismatch in seen:
                if frame.equals(ex.frame):
                    break
            else:
                if ex.key not in expected:
                    expected[ex.key] = oracle.run_oracle(specs[ex.key].oracle, sf_dir)
                want = expected[ex.key]
                issues = oracle.driver_strict_issues(ex.frame, want)
                ok, detail = oracle.compare_frames(ex.frame, want)
                mismatch = "; ".join(issues) if issues else None if ok else detail
                seen.append((ex.frame, mismatch))
            if mismatch is not None:
                failures.append({"pass": p.no, "key": ex.key, "mismatch": mismatch})
    return failures


def loop_metrics(passes: list[Pass], failures: list[dict]) -> dict:
    """Metrics of the closed loop, from untraced passes: ``pass_s`` is
    printed, the rest go to the run record."""
    timed = [p for p in passes[TIMED.start:TIMED.stop] if not p.traced]
    lat = [ex.latency_s for p in timed for ex in p.executions]
    attempted = sum(len(p.executions) for p in passes)
    return {
        "cold_pass_s": passes[0].wall_s,
        "pass_s": pass_time(timed),
        "latency_p50_s": statistics.median(lat),
        "timed_passes": len(timed),
        "timed_executions": len(lat),
        "attempted": attempted,
        "failed": len(failures),
        "failed_frac": len(failures) / attempted,
    }


def describe(passes: list[Pass]) -> list[dict]:
    """Per-pass timings for the run record (no frames)."""
    return [{
        "pass": p.no, "traced": p.traced, "wall_s": p.wall_s,
        "steal_frac": p.steal_frac,
        "keys": [
            {"key": ex.key, "latency_s": ex.latency_s,
             "construct_s": ex.construct_s, "collect_s": ex.collect_s,
             "rows": ex.rows, "error": ex.error is not None}
            for ex in p.executions
        ],
    } for p in passes]


def environment(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time at which the parent started this process")
    ap.add_argument("--out", required=True, help="result JSON path")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    from workloads import SF_DIR, WORKLOADS

    spark, specs, setup_rec = setup(args.t0)
    result = {"setup": setup_rec}
    try:
        result["environment"] = environment(spark)
        tracer = None
        if args.trace:
            from spark_trace import Tracer

            tracer = Tracer(spark)
        passes = run_passes(spark, specs, WORKLOADS[args.workload], str(SF_DIR),
                            args.seed, args.seconds, tracer)
        setup_rec["setup_s"] = passes[0].end - args.t0
        t_gate = time.perf_counter()
        failures = gate(passes, specs, str(SF_DIR))
        result["gate_s"] = time.perf_counter() - t_gate
        result["loop"] = loop_metrics(passes, failures)
        result["failures"] = failures
        result["passes"] = describe(passes)
        if tracer is not None:
            from spark_trace import layer_metrics, trace_record

            result["layers"] = layer_metrics(
                passes, passes[TIMED.start:TIMED.stop], setup_rec, failures
            )
            Path(args.out).with_name("trace.json").write_text(
                json.dumps(trace_record(tracer, passes))
            )
    finally:
        spark.stop()
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
