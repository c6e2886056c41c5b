"""Per-layer metrics from the Spark event log, attributed to spans.

Stage and job metrics come from the project's own event-log parser,
``scripts/profile_query.parse_eventlog``. ``parse_extras`` reads the few
fields that parser does not keep: each job's SQL execution, the output
path of each SQL execution (which names the Medallion model a write
belongs to), and per-stage output bytes.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re

from harness import ROOT


def parse_eventlog(path: str) -> dict:
    """``parse_eventlog`` of scripts/profile_query.py (scripts/ is not a
    package, so the file is loaded by path)."""
    script = os.path.join(ROOT, "scripts", "profile_query.py")
    spec = importlib.util.spec_from_file_location("profile_query", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.parse_eventlog(path)


# formatted physical plan: "(n) Execute InsertIntoHadoopFsRelationCommand"
# followed by "Arguments: <output path>, ..."
_WRITE_RE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


def parse_extras(path: str) -> dict:
    jobs: dict[int, dict] = {}
    executions: dict[int, str] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            if '"Event"' not in line:
                continue
            ev = json.loads(line)
            e = ev.get("Event", "")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {"execution": int(eid) if eid is not None else None}
            elif e.endswith("SparkListenerSQLExecutionStart"):
                m = _WRITE_RE.search(ev.get("physicalPlanDescription") or "")
                if m:
                    executions[ev["executionId"]] = m.group(1)
            elif e == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], {"output_b": 0})
                tm = ev.get("Task Metrics") or {}
                st["output_b"] += (tm.get("Output Metrics") or {}).get("Bytes Written") or 0
    return {"jobs": jobs, "executions": executions, "stages": stages}


def eventlog_path(events_dir: str, app_id: str) -> str:
    for f in sorted(os.listdir(events_dir)):
        if f.startswith(app_id) and not f.endswith(".inprogress"):
            return os.path.join(events_dir, f)
    raise FileNotFoundError(f"no finished event log for {app_id} in {events_dir}")


class Attribution:
    """Jobs and stages of one event log, assigned to the benchmark's
    spans: each job to the innermost span whose job-id range holds it
    (see harness.Tracer), each stage to the first job that lists it (a
    reused shuffle is listed again, skipped, by later jobs)."""

    def __init__(self, path: str, spans: list[dict]):
        base = parse_eventlog(path)
        extra = parse_extras(path)
        self.stages = base["stages"]
        for sid, st in extra["stages"].items():
            self.stages.setdefault(sid, {"task_ms": 0, "n_tasks": 0}).update(st)
        self.jobs = base["jobs"]
        for jid, j in self.jobs.items():
            j.update(extra["jobs"].get(jid, {}))
        self.executions = extra["executions"]
        self.span_of: dict[int, int] = {}
        depth = {}
        for s in spans:
            depth[s["id"]] = depth[s["parent"]] + 1 if s["parent"] is not None else 0
            for jid in s.get("jobs", ()):
                if jid not in self.span_of or depth[s["id"]] > depth[self.span_of[jid]]:
                    self.span_of[jid] = s["id"]
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stages"]:
                self.stage_job.setdefault(sid, jid)
        self.spans = spans

    def subtree(self, root_ids: set[int]) -> set[int]:
        ids = set(root_ids)
        grew = True
        while grew:
            extra = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= extra
            grew = bool(extra)
        return ids

    def jobs_under(self, root_ids: set[int]) -> list[int]:
        ids = self.subtree(root_ids)
        return sorted(j for j, s in self.span_of.items() if s in ids)

    def stages_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [
            self.stages[sid]
            for sid, jid in self.stage_job.items()
            if jid in js and sid in self.stages and "wall_ms" in self.stages[sid]
        ]

    def job_wall_s(self, jid: int) -> float:
        j = self.jobs[jid]
        return ((j.get("t1") or 0) - (j.get("t0") or 0)) / 1000.0

    def covered_s(self, jobs: list[int], start: float, end: float) -> float:
        """Length of [start, end] covered by at least one running job."""
        iv = sorted(
            (max(start, self.jobs[j]["t0"] / 1000.0), min(end, (self.jobs[j].get("t1") or 0) / 1000.0))
            for j in jobs
            if self.jobs[j].get("t0") is not None
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def write_path(self, jid: int) -> str | None:
        eid = self.jobs[jid].get("execution")
        return self.executions.get(eid) if eid is not None else None

    def spark_metrics(self, pass_spans: list[dict], cores: int) -> dict:
        """Spark-level counters per pass (mean over the given passes)."""
        n = len(pass_spans)
        tot = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "task_s", "gc_s", "sh_r", "sh_w", "input", "gap", "wall",
            ),
            0.0,
        )
        for p in pass_spans:
            tree = self.subtree({p["id"]})
            bench = [s for s in self.spans if s["layer"] == "bench" and s["id"] in tree]
            skip = set(self.jobs_under({s["id"] for s in bench}))
            jobs = [j for j in self.jobs_under({p["id"]}) if j not in skip]
            stages = self.stages_of(jobs)
            wall = p["end"] - p["start"] - sum(s["end"] - s["start"] for s in bench)
            tot["jobs"] += len(jobs)
            tot["stages"] += len(stages)
            tot["tasks"] += sum(s.get("n_tasks", 0) for s in stages)
            tot["task_s"] += sum(s.get("task_ms", 0) for s in stages) / 1000.0
            tot["gc_s"] += sum(s.get("gc_ms", 0) for s in stages) / 1000.0
            tot["sh_r"] += sum(s.get("sh_read_b", 0) for s in stages)
            tot["sh_w"] += sum(s.get("sh_write_b", 0) for s in stages)
            tot["input"] += sum(s.get("input_b", 0) for s in stages)
            # no program job runs during a bench span: one client runs
            # one thing at a time
            tot["gap"] += wall - self.covered_s(jobs, p["start"], p["end"])
            tot["wall"] += wall
        mb = 1024.0 * 1024.0
        return {
            "spark.jobs": tot["jobs"] / n,
            "spark.stages": tot["stages"] / n,
            "spark.tasks": tot["tasks"] / n,
            "spark.task_s": tot["task_s"] / n,
            "spark.busy_ratio": tot["task_s"] / (tot["wall"] * cores),
            "spark.driver_gap_s": tot["gap"] / n,
            "spark.shuffle_read_mb": tot["sh_r"] / n / mb,
            "spark.shuffle_write_mb": tot["sh_w"] / n / mb,
            "spark.gc_s": tot["gc_s"] / n,
            "sources.input_mb": tot["input"] / n / mb,
        }
