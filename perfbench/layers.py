"""Per-layer reducers over Spark's own instrumentation, and the span
tree of a traced run.

- ``EventLog`` reads a Spark event log (JSON lines) and reduces the jobs
  and stages inside a time interval to one fixed record.
- ``trigger_stats`` reduces ``StreamingQuery.recentProgress`` entries.
- ``Spans`` records spans from the benchmark's own calls into the
  program, adds Spark jobs and stages as children, and computes each
  span's self time.
"""

from __future__ import annotations

import json
import re
import statistics
from datetime import datetime

# Physical plan nodes that run Python on the executors.
PYTHON_NODE = re.compile(r"Python|Pandas|MapInArrow|ArrowEval")

# durationMs keys of a micro-batch, in the order the engine runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def pct(values, p: float) -> float:
    """Percentile ``p`` (0-100) by linear interpolation; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def gmean(values) -> float:
    """Geometric mean of positive values; 0.0 when empty. Every value
    weighs the same in it, whatever its size."""
    xs = list(values)
    return statistics.geometric_mean(xs) if xs else 0.0


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


class EventLog:
    """Jobs, stages and tasks of one application's event log. Times are
    epoch seconds."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # (plan node label, its SQL metric accumulator ids), every plan
        self.nodes: list[tuple[str, set]] = []
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", ())),
                }
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self._stage(info["Stage ID"])
                st["start"] = info.get("Submission Time", 0) / 1e3
                st["end"] = info.get("Completion Time", 0) / 1e3
                st["accums"] = {a["ID"] for a in info.get("Accumulables", ())}
            elif kind == "SparkListenerTaskEnd":
                st = self._stage(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                for node in _plan_nodes(ev.get("sparkPlanInfo") or {}):
                    ids = {m["accumulatorId"] for m in node.get("metrics", ())}
                    if ids:
                        # the simple string names the scan's stream or
                        # the write's class (PythonMicroBatchStream,
                        # PythonStreamingWrite) where the node name
                        # is generic
                        label = f"{node.get('nodeName', '')} {node.get('simpleString', '')}"
                        self.nodes.append((label, ids))

    def node_accums(self, pattern) -> set:
        """Accumulator ids of every plan node whose label matches."""
        rx = re.compile(pattern) if isinstance(pattern, str) else pattern
        return {i for name, ids in self.nodes if rx.search(name) for i in ids}

    def _stage(self, sid: int) -> dict:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = {
                "start": None, "end": None, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                "shuffle_bytes": 0, "spill_bytes": 0, "accums": set(),
            }
        return st

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def _jobs_in(self, intervals) -> list[dict]:
        return [
            j for j in self.jobs.values()
            if j["end"] is not None and any(s <= j["start"] < e for s, e in intervals)
        ]

    def _stages_of(self, jobs) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stages"] if sid in self.stages}
        return [self.stages[sid] for sid in ids if self.stages[sid]["tasks"]]

    def node_stage_s(self, intervals, pattern) -> float:
        """Executor run time of the stages, of jobs submitted inside
        ``intervals``, that execute a plan node matching ``pattern``."""
        accums = self.node_accums(pattern)
        return sum(st["run_s"] for st in self._stages_of(self._jobs_in(intervals)) if st["accums"] & accums)

    def reduce(self, intervals, cores: int) -> dict:
        """Layer record of the jobs submitted inside ``intervals``
        (a list of (start, end) epoch seconds)."""
        jobs = self._jobs_in(intervals)
        stages = self._stages_of(jobs)
        wall = sum(e - s for s, e in intervals)
        run_s = sum(st["run_s"] for st in stages)
        job_cover = sum(
            union_s([(max(j["start"], s), min(j["end"], e)) for j in jobs if j["start"] < e and j["end"] > s])
            for s, e in intervals
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(st["cpu_s"] for st in stages),
            "parallel_eff": run_s / (wall * cores) if wall > 0 else 0.0,
            "shuffle_bytes": sum(st["shuffle_bytes"] for st in stages),
            "spill_bytes": sum(st["spill_bytes"] for st in stages),
            "python_stage_s": self.node_stage_s(intervals, PYTHON_NODE),
            "driver_gap_s": max(0.0, wall - job_cover),
        }


def progress_time(p: dict) -> float:
    """Trigger start of a progress entry, epoch seconds."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def trigger_stats(entries: list[dict]) -> dict:
    """Per-query trigger record from progress entries (one query)."""
    d = [p.get("durationMs", {}) for p in entries]

    def p50(key):
        return pct([x.get(key, 0) for x in d], 50)

    execs = [x.get("triggerExecution", 0) for x in d]
    return {
        "count": len(entries),
        "exec_ms_p50": pct(execs, 50),
        "exec_ms_p99": pct(execs, 99),
        "latest_offset_ms_p50": p50("latestOffset"),
        "plan_ms_p50": p50("queryPlanning"),
        "add_batch_ms_p50": p50("addBatch"),
        "wal_commit_ms_p50": p50("walCommit"),
        "commit_offsets_ms_p50": p50("commitOffsets"),
        "rows_p50": pct([p.get("numInputRows", 0) for p in entries], 50),
        # share of triggerExecution the named phases account for
        "phase_cover": pct(
            [sum(x.get(k, 0) for k in PHASES) / x["triggerExecution"] for x in d if x.get("triggerExecution")],
            50,
        ),
    }


def state_stats(entries: list[dict]) -> dict:
    ops = [op for p in entries for op in p.get("stateOperators", ())]
    return {
        "rows_total_max": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "memory_bytes_max": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        "commit_ms_p50": pct([op.get("commitTimeMs", 0) for op in ops], 50),
        "rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


class Spans:
    """Spans of one run: ``(id, parent, name, start, end)`` under one
    trace id. Kept in memory and written once at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"trace": self.trace_id, "id": sid, "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return sid

    def add_phases(self, parent: int, start: float, duration_ms: dict) -> None:
        """Lay a trigger's ``durationMs`` phases end to end from its start."""
        t = start
        for key in PHASES:
            ms = duration_ms.get(key)
            if ms:
                self.add(f"phase.{key}", t, t + ms / 1e3, parent)
                t += ms / 1e3

    def add_spark(self, log: EventLog) -> None:
        """Attach each Spark job to the innermost span that contains its
        submission, and each stage to its job."""
        leaves = sorted(self.spans, key=lambda s: s["end"] - s["start"])
        python = log.node_accums(PYTHON_NODE)
        for jid, job in sorted(log.jobs.items()):
            if job["end"] is None:
                continue
            parent = next(
                (s["id"] for s in leaves
                 if not s["name"].startswith(("phase.", "spark.")) and s["start"] <= job["start"] < s["end"]),
                None,
            )
            if parent is None:
                continue
            j = self.add("spark.job", job["start"], job["end"], parent, job=jid)
            for sid in job["stages"]:
                st = log.stages.get(sid)
                if st and st["start"] and st["end"]:
                    self.add("spark.stage", st["start"], st["end"], j, stage=sid,
                             python=bool(st["accums"] & python), tasks=st["tasks"])

    def with_self_time(self) -> list[dict]:
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered = union_s(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], ()) if c["end"] > s["start"] and c["start"] < s["end"]]
            )
            out.append({**s, "self_s": max(0.0, (s["end"] - s["start"]) - covered)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_time(), f)
