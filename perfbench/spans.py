"""Spans, /proc readings and the Spark event-log fold for traced runs.

A span is a timed interval around one public call of the package, made
by the benchmark's own code: (op sequence number, span name, start, end).
Spans are kept in memory and only folded into metrics when the run ends.

In a traced run every span also names the Spark job group of the jobs it
submits (``sc.setJobGroup``), and Spark's own event log is switched on
from outside the package (``PYSPARK_SUBMIT_ARGS``). After the run the
log's ``JobStart``/``JobEnd``, ``TaskEnd`` and SQL plan events are folded
per operation: jobs, stages, tasks, executor CPU/run/GC time, shuffle and
spill bytes, bytes and rows crossing into Python, failed tasks, and the
operation's driver-only time (its wall time minus the union of its job
intervals).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

import pyarrow as pa

# plan nodes whose "number of output rows" are rows coming back from Python
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)


def _proc_status(pid: int | str, field: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, in bytes."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(field)


def peak_rss_bytes(pid: int | str) -> int:
    return _proc_status(pid, "VmHWM")


def cpu_seconds(pid: int | str) -> float:
    """utime + stime of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records spans and counts; in a traced run also labels Spark jobs
    with ``<op seq>|<innermost span>`` as their job group."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[tuple[int, str, float, float]] = []
        self.counts: list[tuple[int, str, float]] = []
        self.op_seq = -1
        self._stack: list[str] = []

    def next_op(self) -> int:
        self.op_seq += 1
        return self.op_seq

    @contextlib.contextmanager
    def span(self, name: str):
        self._stack.append(name)
        if self.traced:
            self.sc.setJobGroup(f"{self.op_seq}|{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.op_seq, name, t0, time.perf_counter()))
            self._stack.pop()
            if self.traced:
                outer = self._stack[-1] if self._stack else ""
                self.sc.setJobGroup(f"{self.op_seq}|{outer}", outer)

    def idle(self) -> None:
        """Jobs from here until the next span belong to no operation."""
        if self.traced:
            self.sc.setJobGroup("idle", "")

    def count(self, name: str, value: float) -> None:
        self.counts.append((self.op_seq, name, float(value)))

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, n, t0, t1 in self.spans if n == name]


def _read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not files:
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
    events = []
    for path in files:
        if path.endswith(".zstd"):
            with pa.OSFile(path) as raw, pa.CompressedInputStream(raw, "zstd") as f:
                data = f.read()
        else:
            with open(path, "rb") as f:
                data = f.read()
        for line in data.splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


def _plan_python_row_accums(plan: dict, out: set) -> None:
    if plan.get("nodeName", "").split(" ")[0] in PYTHON_NODES:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_python_row_accums(child, out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(log_dir: str) -> tuple[dict[int, dict], dict[str, int]]:
    """Per-op Spark counters from the event log, keyed by op sequence
    number (the job group prefix every span sets), and the number of jobs
    each span name submitted."""
    events = _read_event_log(log_dir)
    python_rows: set = set()
    for e in events:
        if "sparkPlanInfo" in e:
            _plan_python_row_accums(e["sparkPlanInfo"], python_rows)

    stage_op: dict[int, int] = {}
    job_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    ops: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    span_jobs: dict[str, int] = defaultdict(int)
    intervals: dict[int, list] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if "|" not in group:
                continue
            op, span = group.split("|", 1)
            op = int(op)
            span_jobs[span] += 1
            job_op[e["Job ID"]] = op
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            ops[op]["jobs"] += 1
            ops[op]["stages"] += len(e["Stage IDs"])
            for s in e["Stage IDs"]:
                stage_op[s] = op
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_op:
            op = job_op[e["Job ID"]]
            intervals[op].append((job_start[e["Job ID"]], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_op:
            o = ops[stage_op[e["Stage ID"]]]
            info = e.get("Task Info", {})
            o["tasks"] += 1
            if info.get("Failed"):
                o["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                name = acc.get("Name", "")
                if name == "data sent to Python workers":
                    o["python_bytes_sent"] += float(acc.get("Update", 0))
                elif acc.get("ID") in python_rows:
                    o["python_rows_received"] += float(acc.get("Update", 0))
    for op, ivs in intervals.items():
        ops[op]["job_union_s"] = _union_length(ivs)
    return {op: dict(v) for op, v in ops.items()}, dict(span_jobs)


FORMATS = ("sources.delta", "sources.hudi_mor", "sources.iceberg")
# spans whose mean duration is a per-layer metric: metric name -> span name
SPAN_SECONDS = {
    "operators.kmeans.fit_s": "operators.kmeans.fit",
    "operators.graph_algos.pagerank_s": "operators.graph_algos.pagerank",
    "operators.graph_algos.connected_components_s": "operators.graph_algos.connected_components",
    "operators.graph_algos.louvain_s": "operators.graph_algos.louvain",
    "cypher.compile_s": "cypher.compile",
    "cypher.execute_s": "cypher.execute",
    "operators.dedup.minhash_dedup_s": "operators.dedup.minhash_dedup",
    "operators.dedup.near_dups_against_s": "operators.dedup.near_dups_against",
    "operators.classify.nb_train_s": "operators.classify.nb_train",
    "operators.classify.nb_score_s": "operators.classify.nb_score",
    "operators.similarity.ivfpq_search_s": "operators.similarity.ivfpq_search",
    "operators.text.clean_corpus_s": "operators.text.clean_corpus",
    "operators.multimodal.image_features_s": "operators.multimodal.image_features",
    **{f"{fmt}.{s}_s": f"{fmt}.{s}" for fmt in FORMATS for s in ("commit", "read_plan", "scan")},
    "sources.delta.merge_dv_s": "sources.delta.merge_dv",
    "sources.delta.merge_cow_s": "sources.delta.merge_cow",
    "sources.hudi_mor.log_compact_s": "sources.hudi_mor.log_compact",
    "streaming.cdf_read_s": "streaming.cdf_read",
}
# spans whose mean job count per call is a per-layer metric
SPAN_JOBS = {
    f"operators.graph_algos.{a}_jobs": f"operators.graph_algos.{a}"
    for a in ("pagerank", "connected_components", "louvain")
}
# counts recorded by the workloads; the metric is their mean
COUNTS = {
    "operators.kmeans.iterations": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "operators.dedup.planted_recall": "ratio",
    "operators.similarity.ivfpq_recall": "ratio",
    **{f"{fmt}.files_per_commit": "count" for fmt in FORMATS},
    **{f"{fmt}.{c}": "ratio" for fmt in FORMATS for c in ("bytes_written_per_user_byte", "pruned_kept_frac")},
    "sources.hudi_mor.live_log_blocks": "count",
}
# per-op means of the event-log fold: metric name -> (fold key, unit)
SPARK_PER_OP = {
    "spark.jobs_per_op": ("jobs", "count"),
    "spark.stages_per_op": ("stages", "count"),
    "spark.tasks_per_op": ("tasks", "count"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "spark.spill_bytes": ("spill_bytes", "B"),
    "spark.python_bytes_sent": ("python_bytes_sent", "B"),
    "spark.python_rows_received": ("python_rows_received", "count"),
    "spark.gc_s": ("gc_s", "s"),
}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(records, tracer: Tracer, fold, cpus: int, jvm_cpu_s: float, py_cpu_s: float) -> dict:
    """Per-layer metrics of a traced run: {name: (value, unit)}.

    ``records`` are the runner's (seq, name, kind, latency, ok, live pins)
    rows; ``fold`` is fold_event_log's result. Per-op values are means
    over the operations of the timed passes (traced-only operations count
    in span timings only); a layer the workload does not exercise reads 0."""
    in_pass = {r[0] for r in records}
    spark_ops = {seq: o for seq, o in fold[0].items() if seq in in_pass}
    span_jobs = fold[1]
    n = len(records)
    out = {}
    for name, (key, unit) in SPARK_PER_OP.items():
        out[name] = (sum(o.get(key, 0.0) for o in spark_ops.values()) / n, unit)
    op_wall = sum(r[3] for r in records)
    run_s = sum(o.get("executor_run_s", 0.0) for o in spark_ops.values())
    out["spark.executor_busy_frac"] = (run_s / (op_wall * cpus), "ratio")
    out["spark.driver_only_s"] = (
        _mean([max(0.0, r[3] - spark_ops.get(r[0], {}).get("job_union_s", 0.0)) for r in records]),
        "s",
    )
    out["spark.failed_tasks"] = (sum(o.get("failed_tasks", 0.0) for o in spark_ops.values()), "count")
    out["jvm.cpu_s"] = (jvm_cpu_s / n, "s")
    out["py.driver_cpu_s"] = (py_cpu_s / n, "s")
    for name, span in SPAN_SECONDS.items():
        out[name] = (_mean(tracer.durations(span)), "s")
    for name, span in SPAN_JOBS.items():
        calls = len(tracer.durations(span))
        out[name] = (span_jobs.get(span, 0) / calls if calls else 0.0, "count")
    iters = sum(v for _, k, v in tracer.counts if k == "operators.kmeans.iterations")
    out["operators.kmeans.jobs_per_iteration"] = (
        span_jobs.get("operators.kmeans.fit", 0) / iters if iters else 0.0, "count"
    )
    for name, unit in COUNTS.items():
        out[name] = (_mean([v for _, k, v in tracer.counts if k == name]), unit)
    out["operators.pins.live_after_op"] = (_mean([r[5] for r in records]), "count")
    return out
