"""Read Spark's (uncompressed) event log and split one job run's work
by SQL execution and plan node.

Only the distinct-bucket ``collect`` of ``run_extraction`` carries a
call site, so executions are told apart by their physical plans: the
write of extraction output holds an ``EvalPython`` node under
``InsertIntoHadoopFsRelationCommand``, the lineage rollup writes an
aggregate, and the final count writes nothing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, log_dir: str):
        self.jobs: dict = {}   # job id -> dict
        self.stages: dict = {}  # stage id -> dict
        self.tasks: list = []
        self.sql: dict = {}    # execution id -> dict
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f)
        )
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "end": None,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                "sql": props.get("spark.sql.execution.id"),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
                "tasks": info["Number of Tasks"],
            }
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            metrics = ev.get("Task Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "launch": info["Launch Time"],
                "finish": info["Finish Time"],
                "read": (metrics.get("Input Metrics") or {}).get("Bytes Read", 0),
                "written": (metrics.get("Output Metrics") or {}).get("Bytes Written", 0),
                "shuffle": (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
            })
        elif kind == SQL_START:
            self.sql[ev["executionId"]] = {
                "start": ev["time"],
                "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
            }
        elif kind == SQL_END and ev["executionId"] in self.sql:
            self.sql[ev["executionId"]]["end"] = ev["time"]

    def window(self, t0_ms: float, t1_ms: float) -> "RunWindow":
        return RunWindow(self, t0_ms, t1_ms)


class RunWindow:
    """The part of the log that falls inside one job run."""

    def __init__(self, log: EventLog, t0: float, t1: float):
        self.jobs = {j: v for j, v in log.jobs.items() if t0 <= v["start"] <= t1}
        stage_ids = {s for v in self.jobs.values() for s in v["stages"]}
        self.stages = {s: log.stages[s] for s in stage_ids if s in log.stages}
        self.tasks = [t for t in log.tasks if t["stage"] in stage_ids]
        self.sql = {e: v for e, v in log.sql.items() if t0 <= v["start"] <= t1}
        self.t0 = t0

    def totals(self) -> dict:
        return {
            "spark.jobs": len(self.jobs),
            "spark.tasks": len(self.tasks),
            "bytes_read": sum(t["read"] for t in self.tasks),
            "bytes_written": sum(t["written"] for t in self.tasks),
            "shuffle_bytes": sum(t["shuffle"] for t in self.tasks),
        }

    def _jobs_of(self, exec_id) -> list:
        return [v for v in self.jobs.values() if v["sql"] == str(exec_id)]

    def extraction_phases(self, job_s: float, input_bytes: int,
                          output_files: int) -> dict:
        """``run_extraction``'s actions as seconds.  Each phase runs from
        the end of the previous action to the end of its own SQL
        execution, so the driver's planning of an action and the
        plan-less jobs that serve it (the input's schema read, the
        output's file listing) count to it.  ``phase_sum_frac`` below 1
        is time outside every action."""
        order = sorted(self.sql.items(), key=lambda kv: kv[1]["start"])
        write = next(e for e, v in order
                     if "InsertIntoHadoopFsRelationCommand" in v["plan"]
                     and "EvalPython" in v["plan"])
        rollup = next(e for e, v in order
                      if "InsertIntoHadoopFsRelationCommand" in v["plan"]
                      and e != write)
        bucket = next(e for e, v in order if v["start"] < self.sql[write]["start"])
        count = next(e for e, v in order if v["start"] > self.sql[rollup]["start"])
        ends = [self.t0] + [self.sql[e]["end"] for e in (bucket, write, rollup, count)]
        bucket_s, write_s, rollup_s, count_s = (
            (b - a) / 1000 for a, b in zip(ends, ends[1:])
        )

        map_stages = [
            s for j in self._jobs_of(write) for s in j["stages"]
            if s in self.stages and any(
                t["shuffle"] > 0 for t in self.tasks if t["stage"] == s
            )
        ]
        result_stages = [
            s for j in self._jobs_of(write) for s in j["stages"]
            if s in self.stages and s not in map_stages
            and any(t["stage"] == s for t in self.tasks)
        ]
        extract_s = sum(
            (self.stages[s]["end"] - self.stages[s]["start"]) / 1000 for s in map_stages
        )
        task_s = [
            (t["finish"] - t["launch"]) / 1000
            for t in self.tasks if t["stage"] in map_stages
        ]
        write_tasks = sum(self.stages[s]["tasks"] for s in result_stages)
        phases = {
            "lineage.bucket_scan_s": bucket_s,
            "lineage.extract_stage_s": extract_s,
            "lineage.write_stage_s": write_s - extract_s,
            "lineage.rollup_s": rollup_s,
            "lineage.count_s": count_s,
        }
        totals = self.totals()
        return {
            **phases,
            "lineage.phase_sum_frac": sum(phases.values()) / job_s,
            "lineage.shuffle_bytes": totals["shuffle_bytes"],
            "lineage.bytes_written": totals["bytes_written"],
            "lineage.bytes_read_per_input_byte": totals["bytes_read"] / input_bytes,
            "lineage.write_tasks": write_tasks,
            "lineage.files_per_write_task": output_files / max(write_tasks, 1),
            "spark.jobs": totals["spark.jobs"],
            "spark.tasks": totals["spark.tasks"],
            "spark.task_p50_s": statistics.median(task_s),
            "spark.task_max_s": max(task_s),
        }
