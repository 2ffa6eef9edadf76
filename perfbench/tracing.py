"""Tracing for the benchmark's traced run: spans around public calls into
the engine (wrapped from here, never edited in the package), one Spark
job group per op, and the Spark event log parsed into per-pass engine
counters. Untraced runs use ``workloads.NullTracer`` and carry none of it.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import defaultdict


class Span:
    def __init__(self, tracer: "Tracer", name: str, subgroup: bool):
        self.tracer, self.name, self.subgroup = tracer, name, subgroup

    def __enter__(self):
        t = self.tracer
        self.pass_id, self.op = t.pass_id, t.op
        if self.subgroup and self.op:
            self.group = f"{self.pass_id}:{self.op}:{self.name}"
            t.sc.setJobGroup(self.group, self.name)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        seconds = time.perf_counter() - self.t0
        base = self.pass_id.split(".")[0] if self.pass_id else "setup"
        t.seconds[base][self.name] += seconds
        t.calls[base][self.name] += 1
        if self.op:
            t.op_seconds[self.pass_id][self.op, self.name] += seconds
        if self.subgroup and self.op:
            n = len(t.sc.statusTracker().getJobIdsForGroup(self.group))
            t.jobs[base][self.name] += n
            t.sub_jobs += n
            t.sc.setJobGroup(f"{self.pass_id}:{self.op}", self.op)
        return False


class Tracer:
    """Spans and job counts keyed by pass (repeat rounds fold into their
    pass). ``seconds[pass][span]``, ``calls[pass][span]``,
    ``jobs[pass][span]``; ``op_jobs[pass_id][op]`` and
    ``op_seconds[pass_id][op, span]`` keep repeat rounds apart."""

    traced = True

    # (module, function, span name): the public entry points, wrapped
    # where their callers look them up (a module attribute, or the name a
    # caller imported into its own module)
    WRAPPED = [
        ("big_data_chicago_crimes_spark.sources.readers", "load_table", "sources.load_tables"),
        ("big_data_chicago_crimes_spark.sources.sinks", "write_parquet", "sources.sinks.write_parquet"),
        ("big_data_chicago_crimes_spark.sources.sinks", "path_exists", "sources.sinks.path_exists"),
        ("big_data_chicago_crimes_spark.queries.ml_queries", "kmeans_cluster_sizes", "operators.ml"),
    ]

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pass_id = ""
        self.op = ""
        self.sub_jobs = 0
        self.seconds = defaultdict(lambda: defaultdict(float))
        self.calls = defaultdict(lambda: defaultdict(int))
        self.jobs = defaultdict(lambda: defaultdict(int))
        self.op_jobs = defaultdict(lambda: defaultdict(int))
        self.op_seconds = defaultdict(lambda: defaultdict(float))
        self._saved: list[tuple] = []

    def span(self, name: str, subgroup: bool = False) -> Span:
        return Span(self, name, subgroup)

    def begin_op(self, pass_id: str, op: str) -> None:
        self.pass_id, self.op, self.sub_jobs = pass_id, op, 0
        self.sc.setJobGroup(f"{pass_id}:{op}", op)

    def end_op(self, pass_id: str, op: str) -> None:
        # jobs run inside a wrapped call carry that span's sub-group
        n = len(self.sc.statusTracker().getJobIdsForGroup(f"{pass_id}:{op}"))
        self.op_jobs[pass_id][op] = n + self.sub_jobs
        self.sc.setJobGroup("idle", "idle")
        self.pass_id, self.op = "", ""

    def install(self) -> None:
        for mod_name, fn_name, span_name in self.WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            self._saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(fn, span_name))

    def uninstall(self) -> None:
        while self._saved:
            mod, fn_name, fn = self._saved.pop()
            setattr(mod, fn_name, fn)

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name, subgroup=True):
                return fn(*args, **kwargs)

        return wrapper


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count, job intervals and the intervals of stages
    that scan a CSV file (epoch ms), and summed task metrics, from every
    event log file under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0, "tasks": 0, "intervals": [], "executor_run_ms": 0,
            "executor_cpu_ns": 0, "gc_ms": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "csv_input_bytes": 0,
            "spill_bytes": 0, "csv_intervals": [],
        }
    )
    stage_group: dict[int, str] = {}
    csv_stages: set[int] = set()
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    jid = ev["Job ID"]
                    job_group[jid], job_start[jid] = group, ev["Submission Time"]
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    groups[job_group[jid]]["intervals"].append(
                        (job_start[jid], ev["Completion Time"])
                    )
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if any("Scan csv" in (r.get("Scope") or "") for r in info["RDD Info"]):
                        csv_stages.add(info["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info["Stage ID"] in csv_stages and "Completion Time" in info:
                        groups[stage_group.get(info["Stage ID"], "")]["csv_intervals"].append(
                            (info["Submission Time"], info["Completion Time"])
                        )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    g["tasks"] += 1
                    if not m:
                        continue
                    g["executor_run_ms"] += m["Executor Run Time"]
                    g["executor_cpu_ns"] += m["Executor CPU Time"]
                    g["gc_ms"] += m["JVM GC Time"]
                    g["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sr = m["Shuffle Read Metrics"]
                    g["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    read = m["Input Metrics"]["Bytes Read"]
                    g["input_bytes"] += read
                    if ev["Stage ID"] in csv_stages:
                        g["csv_input_bytes"] += read
    return groups


def busy_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
