"""Per-layer tracing for traced benchmark runs.

Spans are kept in memory and written once when the run ends. The tree is
run -> pass -> key -> {construct, collect} -> Spark job -> stage. Key and
phase spans are timed by the benchmark around its calls into the package;
job and stage spans are read afterwards from Spark's status store
(``sc._jsc.sc().statusStore()``) and per-plan-node metrics from the SQL
status store (``spark._jsparkSession.sharedState().statusStore()``). Both
stores exist with ``spark.ui.enabled=false``.

A job is attributed to a key phase by its job group ``<key>:construct`` or
``<key>:collect``. Jobs a streaming query runs on its own thread carry the
query's group instead and are attributed by submission time: the loop is
closed (one query in flight), so any job submitted inside a key's span
belongs to that key.
"""

from __future__ import annotations

import re
import statistics
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

#: Plan nodes that run Python workers (MapInPandas, ArrowEvalPython,
#: FlatMapGroupsInPandas, ...) define this SQL metric. Stateful streaming
#: nodes define it too, so the node name must also say Python.
_PY_SENT = "data sent to Python workers"
_PY_NODE = re.compile(r"Python|Pandas|Arrow")

_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]*)")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(-?\d+),(\w+)\)$")
_MB = 2.0**20


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it, in seconds, bytes or a
    count. Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value after the header line."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    match = _VALUE.search(body)
    if match is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    number = float(match.group(1).replace(",", ""))
    return number * _UNIT.get(match.group(2), 1.0)


def _opt(option):
    return option.get() if option.isDefined() else None


def _ids(seq) -> list[int]:
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


class StreamProgress(StreamingQueryListener):
    """Counts micro-batches the package's streaming queries report."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_rows = sum(op.numRowsTotal for op in p.stateOperators)
        at = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        with self._lock:
            self.events.append({
                "at": at.timestamp(),
                "batch_s": p.batchDuration / 1e3,
                "state_rows": state_rows,
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.events = self.events, []
        return out


class Tracer:
    """Spans for one traced run plus the status-store readers that turn
    Spark's own records into job/stage spans and per-layer counts."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._runtime = self._jvm.java.lang.Runtime.getRuntime()
        self._gc_beans = (
            self._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self.spans: list[Span] = []
        self.streams = StreamProgress()
        spark.streams.addListener(self.streams)
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()

    # -- spans -------------------------------------------------------------
    def span(self, parent, name, start, end, **attrs) -> Span:
        s = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(s)
        return s

    # -- in-loop probes (cheap: one or two py4j calls each) ----------------
    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def heap_mb(self) -> float:
        rt = self._runtime
        return (rt.totalMemory() - rt.freeMemory()) / _MB

    def gc_s(self) -> float:
        beans = self._gc_beans
        return sum(
            max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size())
        ) / 1e3

    # -- status-store snapshot after a pass --------------------------------
    def wait_idle(self) -> None:
        """Block until Spark's listener bus has delivered every event, so
        the status stores (and the streaming listener) are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Forget jobs and executions of an untraced pass."""
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()
        self.streams.drain()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec_id(self) -> int:
        execs = self._sql.executionsList()  # oldest first
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, with their stages."""
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({
                "job_id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "start": sub.getTime() / 1e3 if sub is not None else None,
                "end": done.getTime() / 1e3 if done is not None else None,
                "stages": [self._stage(s) for s in _ids(j.stageIds())],
            })
        out.reverse()
        if out:
            self._last_job = out[-1]["job_id"]
        return out

    def _stage(self, stage_id: int) -> dict:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - stage evicted or never attempted
            return {"stage_id": stage_id, "status": "UNKNOWN", "tasks": 0}
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        return {
            "stage_id": stage_id,
            "status": s.status().toString(),
            "start": sub.getTime() / 1e3 if sub is not None else None,
            "end": done.getTime() / 1e3 if done is not None else None,
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_b": s.shuffleWriteBytes(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "output_b": s.outputBytes(),
            "output_rows": s.outputRecords(),
        }

    def new_executions(self) -> list[dict]:
        """SQL executions started since the previous call, reduced to the
        plan-node counts and metrics the per-layer table reads."""
        execs = self._sql.executionsList()  # oldest first
        out = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                break
            out.append(self._execution(eid, e.submissionTime() / 1e3))
        out.reverse()
        if out:
            self._last_exec = out[-1]["exec_id"]
        return out

    def _execution(self, eid: int, start: float) -> dict:
        rec = {
            "exec_id": eid, "start": start,
            "broadcast_exchanges": 0, "sort_merge_joins": 0,
            "single_partition_exchanges": 0,
            "scan_s": 0.0, "files_read": 0.0, "scan_b": 0.0,
            "py_nodes": 0, "py_run_s": 0.0, "py_start_s": 0.0,
            "py_init_s": 0.0, "py_sent_b": 0.0, "py_returned_b": 0.0,
        }
        values = {}
        for entry in self._sql.executionMetrics(eid).mkString("\u0001").split("\u0001"):
            if " -> " in entry:
                acc, text = entry.split(" -> ", 1)
                values[int(acc)] = text
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            defined: dict[str, int] = {}
            raw = node.metrics().mkString("\u0001")
            for m in raw.split("\u0001") if raw else ():
                hit = _PLAN_METRIC.match(m)
                if hit:
                    defined[hit.group(1)] = int(hit.group(2))

            def metric(label: str) -> float:
                acc = defined.get(label)
                return parse_metric(values[acc]) if acc in values else 0.0

            if name == "BroadcastExchange":
                rec["broadcast_exchanges"] += 1
            elif name == "SortMergeJoin":
                rec["sort_merge_joins"] += 1
            elif name == "Exchange" and "SinglePartition" in node.desc():
                rec["single_partition_exchanges"] += 1
            if name.startswith("Scan "):
                rec["scan_s"] += metric("scan time")
                rec["files_read"] += metric("number of files read")
                rec["scan_b"] += metric("size of files read")
            if _PY_SENT in defined and _PY_NODE.search(name):
                rec["py_nodes"] += 1
                rec["py_run_s"] += metric("time to run Python workers")
                rec["py_start_s"] += metric("time to start Python workers")
                rec["py_init_s"] += metric("time to initialize Python workers")
                rec["py_sent_b"] += metric(_PY_SENT)
                rec["py_returned_b"] += metric("data returned from Python workers")
        return rec


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly-overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: duration minus the union of its children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(k.start, s.start), min(k.end, s.end))
            for k in children.get(s.span_id, ())
            if k.end > s.start and k.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - union_length(kids)
    return out


# -- per-layer metrics of a traced run ---------------------------------------

#: Clock slack when placing a Spark record (millisecond timestamps) inside
#: a span timed by the benchmark.
_SLACK_S = 0.002


def attribute(p) -> None:
    """Tag each job, SQL execution and micro-batch of a traced pass with the
    key and phase (construct/collect) that caused it."""
    by_key = {ex.key: ex for ex in p.executions}

    def locate(t):
        for ex in p.executions:
            if t is not None and ex.start - _SLACK_S <= t <= ex.end + _SLACK_S:
                return ex.key, "construct" if t < ex.construct_end else "collect"
        return None, None

    for job in p.jobs:
        key, _, phase = (job["group"] or "").rpartition(":")
        if key in by_key and phase in ("construct", "collect"):
            job["key"], job["phase"] = key, phase
        else:
            job["key"], job["phase"] = locate(job["start"])
    for rec in p.sql:
        rec["key"], rec["phase"] = locate(rec["start"])
    for ev in p.stream_events:
        ev["key"], _ = locate(ev["at"])


def _ran(jobs) -> list[dict]:
    stages = {}
    for j in jobs:
        for s in j["stages"]:
            if s["status"] not in ("SKIPPED", "UNKNOWN"):
                stages[s["stage_id"]] = s
    return list(stages.values())


def _counts(executions, jobs, sql, stream_events) -> dict[str, float]:
    """Per-layer counts over one set of executions and the Spark records
    attributed to them."""
    collect = [j for j in jobs if j["phase"] == "collect"]
    collect_stages, all_stages = _ran(collect), _ran(jobs)
    run_s = sum(s["run_s"] for s in collect_stages)
    cpu_s = sum(s["cpu_s"] for s in collect_stages)
    handoff = 0.0
    for ex in executions:
        if ex.error is not None:
            continue
        spans = [
            (max(j["start"], ex.construct_end), min(j["end"], ex.end))
            for j in collect
            if j["key"] == ex.key and j["start"] is not None and j["end"] is not None
        ]
        spans = [(a, b) for a, b in spans if b > a]
        handoff += (ex.end - ex.construct_end) - union_length(spans)
    return {
        "operators.construct_s": sum(ex.construct_s for ex in executions),
        "operators.construct_jobs": sum(j["phase"] == "construct" for j in jobs),
        "spark.jobs": len(collect),
        "spark.stages": len(collect_stages),
        "spark.tasks": sum(s["tasks"] for s in collect_stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_frac": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in all_stages) / _MB,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in all_stages) / _MB,
        "spark.spill_mb": sum(s["spill_b"] for s in all_stages) / _MB,
        "spark.broadcast_exchanges": sum(r["broadcast_exchanges"] for r in sql),
        "spark.sort_merge_joins": sum(r["sort_merge_joins"] for r in sql),
        "spark.single_partition_exchanges": sum(
            r["single_partition_exchanges"] for r in sql
        ),
        "tables.scan_s": sum(r["scan_s"] for r in sql),
        "tables.files_read": sum(r["files_read"] for r in sql),
        "tables.scan_mb": sum(r["scan_b"] for r in sql) / _MB,
        "python_boundary.nodes": sum(r["py_nodes"] for r in sql),
        "python_boundary.worker_run_s": sum(r["py_run_s"] for r in sql),
        "python_boundary.worker_start_s": sum(r["py_start_s"] for r in sql),
        "python_boundary.worker_init_s": sum(r["py_init_s"] for r in sql),
        "python_boundary.sent_mb": sum(r["py_sent_b"] for r in sql) / _MB,
        "python_boundary.returned_mb": sum(r["py_returned_b"] for r in sql) / _MB,
        "collect.handoff_s": handoff,
        "collect.rows": sum(ex.rows for ex in executions),
        "collect.driver_cpu_s": sum(ex.driver_cpu_s for ex in executions),
        "sources.output_mb": sum(s["output_b"] for s in all_stages) / _MB,
        "sources.output_rows": sum(s["output_rows"] for s in all_stages),
        "streaming.batches": len(stream_events),
        "streaming.batch_s": sum(ev["batch_s"] for ev in stream_events),
        "streaming.state_rows": sum(ev["state_rows"] for ev in stream_events),
        "session.persisted_rdds": max(
            (ex.persisted_rdds for ex in executions), default=0
        ),
    }


def pass_counts(p) -> dict[str, float]:
    out = _counts(p.executions, p.jobs, p.sql, p.stream_events)
    out["spark.gc_s"] = p.gc_s
    out["session.jvm_heap_mb"] = p.heap_mb
    return out


def key_counts(p, key: str) -> dict[str, float]:
    """The same counts restricted to one key's execution in a pass."""
    return _counts(
        [ex for ex in p.executions if ex.key == key],
        [j for j in p.jobs if j["key"] == key],
        [r for r in p.sql if r["key"] == key],
        [ev for ev in p.stream_events if ev["key"] == key],
    )


def layer_metrics(passes, timed, setup: dict, failures: list[dict]) -> dict[str, float]:
    """Per-layer metrics of a traced run: medians over the traced passes
    of the ``timed`` window, set-up phases, oracle mismatches and the
    tracing overhead (traced minus untraced timed passes, each measured
    as ``pass_s`` is)."""
    from worker import pass_time

    traced = [p for p in timed if p.traced]
    untraced = [p for p in timed if not p.traced]
    for p in passes:
        if p.traced:
            attribute(p)
    per_pass = [pass_counts(p) for p in traced]
    out = {
        name: statistics.median(c[name] for c in per_pass) for name in per_pass[0]
    }
    traced_pass_s = pass_time(traced)
    out.update({
        "session.get_spark_s": setup["get_spark_s"],
        "plans.catalog_import_s": setup["catalog_import_s"],
        "oracle.mismatches": sum("mismatch" in f for f in failures),
        "trace.pass_s": traced_pass_s,
        "trace.overhead_s": traced_pass_s - pass_time(untraced),
    })
    return out


def trace_record(tracer: Tracer, passes) -> dict:
    """Span tree, per-layer self times and per-key counts of a traced run."""
    traced = [p for p in passes if p.traced]
    run = tracer.span(None, "run", passes[0].start, passes[-1].end)
    for p in traced:
        ps = tracer.span(run.span_id, "pass", p.start, p.end, no=p.no)
        phase_span = {}
        for ex in p.executions:
            ks = tracer.span(ps.span_id, "key", ex.start, ex.end, key=ex.key)
            phase_span[ex.key, "construct"] = tracer.span(
                ks.span_id, "construct", ex.start, ex.construct_end, key=ex.key
            )
            phase_span[ex.key, "collect"] = tracer.span(
                ks.span_id, "collect", ex.construct_end, ex.end, key=ex.key
            )
        for job in p.jobs:
            if job["start"] is None or job["end"] is None:
                continue
            parent = phase_span.get((job["key"], job["phase"]), ps)
            js = tracer.span(parent.span_id, "job", job["start"], job["end"],
                             job_id=job["job_id"], group=job["group"])
            for s in job["stages"]:
                if s.get("start") is not None and s.get("end") is not None:
                    tracer.span(js.span_id, "stage", s["start"], s["end"],
                                stage_id=s["stage_id"], tasks=s["tasks"])
    keys = {}
    for p in traced:
        label = "cold" if p.no == 0 else f"warm{p.no}"
        for ex in p.executions:
            rec = key_counts(p, ex.key)
            rec["latency_s"] = ex.latency_s
            keys.setdefault(ex.key, {})[label] = rec
    return {
        "self_s": self_times(tracer.spans),
        "keys": keys,
        "spans": [vars(s) for s in tracer.spans],
    }
