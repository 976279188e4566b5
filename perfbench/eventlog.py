"""Reader for Spark's uncompressed JSON event log (the traced run enables it
through ``get_spark(extra_conf=...)``). It links every job to the tracer
span that was open when the job started (the ``perfbench.span`` local
property) and exposes per-task metrics and per-plan-node SQL metrics."""

from __future__ import annotations

import glob
import json
import os

SQL = "org.apache.spark.sql.execution.ui."


def conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # one file, not Spark 4's default directory of rolled files
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metrics
        self.execs: dict[int, dict] = {}
        self.acc: dict[int, float] = {}
        # one uncompressed file per application, named after its app id
        (path,) = glob.glob(os.path.join(log_dir, "*"))
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = props.get("perfbench.span")
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "span": None if span is None else int(span),
                "exec": None if ex is None else int(ex),
                "start": e["Submission Time"], "end": None,
                "stages": list(e["Stage IDs"])}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if m:
                self.tasks.setdefault(e["Stage ID"], []).append(m)
        elif kind == "SparkListenerStageCompleted":
            # SQL metric values are logged as strings; the value is the
            # driver's running total, so the last one seen is final
            for a in e["Stage Info"].get("Accumulables", ()):
                try:
                    self.acc[a["ID"]] = float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.acc[acc_id] = value
        elif kind == SQL + "SparkListenerSQLExecutionStart":
            self.execs[e["executionId"]] = {"start": e["time"], "end": None,
                                            "plan": e["sparkPlanInfo"]}
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"]

    # ---------------------------------------------------------------- jobs

    def jobs_in(self, span_ids: set[int]) -> list[int]:
        return [j for j, job in self.jobs.items() if job["span"] in span_ids]

    def execs_in(self, span_ids: set[int]) -> list[int]:
        """SQL executions whose jobs started under one of the spans, in
        the order they started."""
        ids = {self.jobs[j]["exec"] for j in self.jobs_in(span_ids)} - {None}
        return sorted(ids, key=lambda x: self.execs.get(x, {}).get("start", 0))

    def exec_seconds(self, ex: int) -> float:
        e = self.execs.get(ex)
        if not e or e["end"] is None:
            return 0.0
        return (e["end"] - e["start"]) / 1000.0

    def task_totals(self, job_ids: list[int]) -> dict:
        """Summed task metrics of the jobs (peak memory is the largest)."""
        t = {"executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
             "peak_execution_mb": 0.0, "tasks": 0}
        for j in job_ids:
            for s in self.jobs[j]["stages"]:
                for m in self.tasks.get(s, ()):
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    t["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    t["executor_run_s"] += m["Executor Run Time"] / 1e3
                    t["gc_s"] += m["JVM GC Time"] / 1e3
                    t["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / 2**20
                    t["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 2**20
                    t["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 2**20
                    t["peak_execution_mb"] = max(t["peak_execution_mb"],
                                                 m["Peak Execution Memory"] / 2**20)
                    t["tasks"] += 1
        return t

    # ----------------------------------------------------------- plan nodes

    def nodes(self, ex: int) -> list[dict]:
        """Flattened final plan of an execution: node name, description,
        its SQL metric values by metric name (0 where never updated) and
        its child nodes."""
        out: list[dict] = []

        def walk(n: dict) -> dict:
            node = {"name": n["nodeName"], "desc": n.get("simpleString", ""),
                    "metrics": {m["name"]: self.acc.get(m["accumulatorId"], 0)
                                for m in n.get("metrics", ())}}
            out.append(node)
            node["children"] = [walk(c) for c in n.get("children", ())]
            return node

        if ex in self.execs:
            walk(self.execs[ex]["plan"])
        return out
