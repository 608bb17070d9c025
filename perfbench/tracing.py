"""Benchmark-side tracing: spans around calls into the engine, and a
summary of Spark's own event log.

Spans are kept in memory (name, start, end, parent) and written out
when the run ends. With tracing off, ``span`` only yields, so the
untraced run pays one context-manager call per span.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    def bind(self, spark) -> None:
        """Tag every Spark job started inside a span with the span name."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        if self._sc is not None:
            self._sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                outer = self.spans[stack[-1]]["name"] if stack else None
                self._sc.setJobDescription(outer)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


_PYTHON_NODES = ("Python", "Pandas", "ArrowEval")


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


class EventLogSummary:
    """Totals read back from an uncompressed, non-rolling event log.

    Jobs are grouped by their description (the span name, or the
    streaming engine's batch description); SQL executions keep their
    physical plan text so writes can be attributed by output path.
    """

    def __init__(self, path: str):
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.totals: dict[str, float] = defaultdict(float)
        self.by_desc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.by_plan_path: dict[str, float] = defaultdict(float)
        stage_job: dict[int, int] = {}
        job_desc: dict[int, str] = {}
        job_exec: dict[int, int] = {}
        exec_plan: dict[int, str] = {}
        exec_desc: dict[int, str] = {}
        accum: dict[int, tuple[str, str]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_desc[jid] = props.get("spark.job.description") or ""
                    if props.get("spark.sql.execution.id") is not None:
                        job_exec[jid] = int(props["spark.sql.execution.id"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    self.jobs += 1
                    self.by_desc[job_desc[jid]]["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    self.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, stage_job, job_desc, job_exec, exec_plan, accum)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    eid = ev["executionId"]
                    if "physicalPlanDescription" in ev and eid not in exec_plan:
                        exec_plan[eid] = ev["physicalPlanDescription"]
                    if "description" in ev:
                        exec_desc[eid] = ev["description"]
                    found: dict[int, tuple[str, str]] = {}
                    _plan_metrics(ev.get("sparkPlanInfo", {}), found)
                    accum.update(found)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, value in ev.get("accumUpdates", []):
                        node, name = accum.get(aid, ("", ""))
                        if name == "number of files read":
                            desc = exec_desc.get(ev["executionId"], "")
                            self.by_desc[desc]["files_read"] += value

    def _task(self, ev, stage_job, job_desc, job_exec, exec_plan, accum) -> None:
        self.tasks += 1
        jid = stage_job.get(ev.get("Stage ID"), -1)
        desc = job_desc.get(jid, "")
        tm = ev.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        t = self.totals
        t["executor_run_s"] += run_s
        t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        t["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        d = self.by_desc[desc]
        d["tasks"] += 1
        d["run_s"] += run_s
        plan = exec_plan.get(job_exec.get(jid, -1), "")
        if plan:
            self.by_plan_path[_write_target(plan)] += run_s
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            node, name = accum.get(acc.get("ID"), ("", ""))
            if name == "number of output rows" and any(p in node for p in _PYTHON_NODES):
                t["python_udf_rows"] += float(acc.get("Update") or 0)

    def desc(self, name: str, key: str) -> float:
        return self.by_desc.get(name, {}).get(key, 0.0)

    def run_s_writing(self, path: str) -> float:
        """Executor run time of tasks in SQL executions that write ``path``."""
        return self.by_plan_path.get(os.path.basename(os.path.normpath(path)), 0.0)


def _write_target(plan: str) -> str:
    """Last path component an InsertIntoHadoopFsRelation plan writes
    (the formatted plan lists the target first under ``Arguments:``)."""
    m = _INSERT_ARGS.search(plan)
    return os.path.basename(m.group(1).rstrip("/")) if m else ""


_INSERT_ARGS = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\n]+)")


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
