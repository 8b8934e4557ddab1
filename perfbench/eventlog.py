"""Reader for Spark's uncompressed rolling event log
(``eventlog_v2_<app>/events_<n>_<app>``), for the traced run.

Jobs are attributed to a benchmark run by a local property set on the
submitting thread (``perfbench.run``); stages and tasks follow their
jobs, and SQL plan metrics follow the SQL execution ids those jobs
carry. Spark 4 leaves SQL metrics out of task-end accumulables, so
their values are read from stage-completed accumulables (cumulative
per accumulator, so the maximum is the total) and from driver
accumulator updates.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

RUN_PROPERTY = "perfbench.run"
_SQL = "org.apache.spark.sql.execution.ui."
# The candidate equi-join of operators.joins.polygon_join_df is the
# only join on the packed cell key `_idx`.
_CANDIDATE_JOIN = re.compile(r"Join \[_idx#\d+L?\]")


def read_events(app_dir: str):
    """Yield the events of one application, in file order."""

    def index(path):
        return int(os.path.basename(path).split("_")[1])

    for path in sorted(glob.glob(os.path.join(app_dir, "events_*")), key=index):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


class EventLog:
    """Per-run rollup of one application's event log."""

    def __init__(self, events):
        self.run_jobs: dict[str, list[int]] = defaultdict(list)
        self.job_stages: dict[int, list[int]] = {}
        self.job_exec: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.acc_info: dict[int, tuple[int, str, str, str]] = {}
        self.acc_value: dict[int, int] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                run = props.get(RUN_PROPERTY)
                if run is not None:
                    self.run_jobs[run].append(e["Job ID"])
                self.job_stages[e["Job ID"]] = e["Stage IDs"]
                if "spark.sql.execution.id" in props:
                    self.job_exec[e["Job ID"]] = int(props["spark.sql.execution.id"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
                for acc in info.get("Accumulables", ()):
                    if acc.get("Metadata") == "sql":
                        self._acc(acc["ID"], int(acc["Value"]))
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] == "Success":
                    self.tasks[e["Stage ID"]].append(e)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    for m in node.get("metrics", ()):
                        self.acc_info[m["accumulatorId"]] = (
                            e["executionId"], node["nodeName"],
                            node.get("simpleString", ""), m["name"],
                        )
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self._acc(acc_id, int(value))

    def _acc(self, acc_id: int, value: int) -> None:
        self.acc_value[acc_id] = max(value, self.acc_value.get(acc_id, 0))

    def _sql_metric(self, execs: set[int], metric: str, node=None) -> int:
        return sum(
            self.acc_value.get(acc_id, 0)
            for acc_id, (ex, name, simple, mname) in self.acc_info.items()
            if ex in execs and mname == metric and (node is None or node(name, simple))
        )

    def run_metrics(self, run: str, wall_s: float, cores: int) -> dict:
        """Layer metrics of one tagged run; wall_s is its span length."""
        jobs = self.run_jobs.get(run, [])
        stage_ids = {s for j in jobs for s in self.job_stages[j] if s in self.stages}
        execs = {self.job_exec[j] for j in jobs if j in self.job_exec}
        tasks = [t for s in stage_ids for t in self.tasks[s]]
        tm = [t["Task Metrics"] for t in tasks]
        run_s = sum(m["Executor Run Time"] for m in tm) / 1e3
        skew = 1.0
        if stage_ids:
            longest = max(stage_ids, key=lambda s: self.stages[s]["Completion Time"]
                          - self.stages[s]["Submission Time"])
            durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                    for t in self.tasks[longest]]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(m["Executor CPU Time"] for m in tm) / 1e9,
            "spark.task_gc_s": sum(m["JVM GC Time"] for m in tm) / 1e3,
            "spark.shuffle_write_bytes": sum(
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in tm),
            "spark.shuffle_read_bytes": sum(
                m["Shuffle Read Metrics"]["Remote Bytes Read"]
                + m["Shuffle Read Metrics"]["Local Bytes Read"] for m in tm),
            "spark.shuffle_fetch_wait_s": sum(
                m["Shuffle Read Metrics"]["Fetch Wait Time"] for m in tm) / 1e3,
            "spark.spill_bytes": sum(
                m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"] for m in tm),
            "spark.task_skew": skew,
            "spark.cores_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "functions.python_worker_s":
                self._sql_metric(execs, "time to run Python workers") / 1e3,
            "functions.bytes_to_python":
                self._sql_metric(execs, "data sent to Python workers"),
            "functions.bytes_from_python":
                self._sql_metric(execs, "data returned from Python workers"),
            "joins.candidate_pairs": self._sql_metric(
                execs, "number of output rows",
                lambda name, simple: bool(_CANDIDATE_JOIN.search(simple))),
        }


def find_app_dir(log_dir: str, app_id: str) -> str:
    return os.path.join(log_dir, f"eventlog_v2_{app_id}")
