"""Fold a Spark event log into per-call, per-job, per-stage and
per-layer rows.

The log is read from outside the program: Spark writes it when
``spark.eventLog.enabled`` is on (uncompressed, non-rolling). Every
stage is grouped by the operator scopes of its RDDs (``MapInPandas``,
``FlatMapCoGroupsInPandas``, ``FlatMapGroupsInPandas``,
``ArrowEvalPython``, ``Window``, ``WriteFiles``; anything else is
``other``). Python-worker metrics and write metrics are attributed to
the physical plan node that owns the accumulator, and each node is
given a layer name from the UDF it runs (see ``NODE_KINDS``).

A *call* is one timed unit of a workload (one ``run_crawl``, one pair
of ``run_image_curation`` runs, one pass over the near-pair
operators): jobs submitted inside a call's wall-clock interval belong
to it. The driver gap of a call is its wall minus the union of its
job intervals — plan building, job submission and driver-side file
work that no Spark job covers.
"""

from __future__ import annotations

import json
import re

# stage groups, highest priority first: a stage that runs a Python UDF
# is charged to the UDF even when it also writes files
SCOPE_GROUPS = (
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "Window",
    "WriteFiles",
)

# (layer kind, node name prefix, regex over the node's simpleString)
NODE_KINDS = (
    ("extract", "MapInPandas", re.compile(r"\bfetch_extract\(")),
    ("synth_image", "MapInPandas", re.compile(r"\bmaterialize_images_batches\(")),
    ("multimodal", "MapInPandas", re.compile(r"\bsharpness#")),
    ("robots", "MapInPandas", re.compile(r"\bcrawl_delay#")),
    ("urlnorm", "ArrowEvalPython", re.compile(r"\b_canonicalize_series\(")),
    ("seen_cogroup", "FlatMapCoGroupsInPandas", re.compile(r"\btest_group\(")),
    ("seen_build", "FlatMapGroupsInPandas", re.compile(r"\bbuild\(")),
    ("seen_merge", "FlatMapGroupsInPandas", re.compile(r"\bmerge\(")),
    ("write", "Execute InsertIntoHadoopFsRelationCommand", re.compile("")),
)

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
TASK_COMMIT = "task commit time"
JOB_COMMIT = "job commit time"
FILES = "number of written files"
WRITTEN = "written output"
OUT_ROWS = "number of output rows"

_KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}


def load_events(path: str) -> list[dict]:
    """Event-log lines this fold uses, in log order."""
    out = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") in _KEEP:
                out.append(ev)
    return out


def node_kind(node_name: str, simple: str) -> str | None:
    for kind, prefix, rx in NODE_KINDS:
        if node_name.startswith(prefix) and rx.search(simple):
            return kind
    return None


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def stage_group(scopes: set[str]) -> str:
    for g in SCOPE_GROUPS:
        if g in scopes:
            return g
    return "other"


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (same unit in and
    out)."""
    total = 0.0
    cur_s = cur_e = None
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


class Log:
    """Indexed view of one application's events."""

    def __init__(self, events: list[dict]):
        self.accum: dict[int, tuple[str | None, str, str]] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.driver_accum: dict[int, float] = {}
        for ev in events:
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                for node in _walk(ev["sparkPlanInfo"]):
                    nk = node_kind(node["nodeName"], node.get("simpleString", ""))
                    for m in node.get("metrics", ()):
                        self.accum[m["accumulatorId"]] = (
                            nk, m["name"], node.get("simpleString", "")
                        )
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    self.driver_accum[acc_id] = (
                        self.driver_accum.get(acc_id, 0) + value
                    )
            elif kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "job": ev["Job ID"],
                    "start": ev["Submission Time"],
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = set()
                for rdd in info.get("RDD Info", ()):
                    if rdd.get("Scope"):
                        scopes.add(json.loads(rdd["Scope"])["name"])
                st = self._stage(info["Stage ID"])
                st.update(
                    name=info.get("Stage Name", ""),
                    start=info.get("Submission Time"),
                    end=info.get("Completion Time"),
                    group=stage_group(scopes),
                    scopes=sorted(scopes),
                )
            elif kind == "SparkListenerTaskEnd":
                self._task(ev)

    def _stage(self, sid: int) -> dict:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = {
                "stage": sid, "name": "", "start": None, "end": None,
                "group": "other", "scopes": [],
                "tasks": 0, "cpu_ns": 0, "run_ms": 0, "gc_ms": 0,
                "shuffle_write": 0, "shuffle_read_max": 0, "spill": 0,
                "accum": {},
            }
        return st

    def _task(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"])
        st["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        st["cpu_ns"] += tm.get("Executor CPU Time", 0)
        st["run_ms"] += tm.get("Executor Run Time", 0)
        st["gc_ms"] += tm.get("JVM GC Time", 0)
        st["spill"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
            "Memory Bytes Spilled", 0
        )
        sw = tm.get("Shuffle Write Metrics") or {}
        st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["shuffle_read_max"] = max(st["shuffle_read_max"], read)
        acc = st["accum"]
        for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
            try:
                upd = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            acc[a["ID"]] = acc.get(a["ID"], 0.0) + upd

    def node_sum(self, stages: list[dict], kind: str, metric: str) -> float:
        """Sum of task updates of ``metric`` on nodes of ``kind``."""
        total = 0.0
        for st in stages:
            for acc_id, val in st["accum"].items():
                owner = self.accum.get(acc_id)
                if owner and owner[0] == kind and owner[1] == metric:
                    total += val
        return total

    def metric_sum(self, stages: list[dict], metric: str) -> float:
        total = 0.0
        for st in stages:
            for acc_id, val in st["accum"].items():
                owner = self.accum.get(acc_id)
                if owner and owner[1] == metric:
                    total += val
        return total

    def stage_kinds(self, st: dict) -> set[str]:
        kinds = set()
        for acc_id in st["accum"]:
            owner = self.accum.get(acc_id)
            if owner and owner[0]:
                kinds.add(owner[0])
        return kinds


def _job_label(log: Log, job: dict) -> str:
    """Outside-in job label: the write target of an insert, else the
    name of the job's last stage (Spark's call site)."""
    targets = set()
    for acc_id, (kind, _m, simple) in log.accum.items():
        if kind != "write":
            continue
        for sid in job["stages"]:
            st = log.stages.get(sid)
            if st and acc_id in st["accum"]:
                m = re.search(r"Command file:(\S+?),", simple)
                if m:
                    parts = m.group(1).rstrip("/").split("/")
                    targets.add("/".join(parts[-2:]))
    if targets:
        return "write:" + "+".join(sorted(targets))
    last = log.stages.get(max(job["stages"])) if job["stages"] else None
    return (last or {}).get("name", "").split(" at ")[0] or "job"


def fold_call(log: Log, start_ms: float, end_ms: float) -> dict:
    """One call's ledger: its jobs (in submission order), their stages,
    per-group stage time, driver gap and the summed engine metrics."""
    jobs = sorted(
        (
            j for j in log.jobs.values()
            if start_ms <= j["start"] <= end_ms and j["end"] is not None
        ),
        key=lambda j: (j["start"], j["job"]),
    )
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [
        log.stages[s] for s in sorted(stage_ids)
        if s in log.stages and log.stages[s]["start"] is not None
    ]
    wall = end_ms - start_ms
    job_union = union_s([(j["start"], j["end"]) for j in jobs])
    stage_union = union_s([(s["start"], s["end"]) for s in stages])
    groups: dict[str, dict] = {}
    for st in stages:
        g = groups.setdefault(st["group"], {"stages": 0, "wall_s": 0.0})
        g["stages"] += 1
        g["wall_s"] += (st["end"] - st["start"]) / 1e3
    gap_ms = max(0.0, wall - job_union)
    job_rows = []
    for order, j in enumerate(jobs):
        job_rows.append({
            "order": order,
            "job": j["job"],
            "label": _job_label(log, j),
            "start_s": round((j["start"] - start_ms) / 1e3, 3),
            "wall_s": round((j["end"] - j["start"]) / 1e3, 3),
            "stages": [
                {
                    "stage": s["stage"],
                    "group": s["group"],
                    "kinds": sorted(log.stage_kinds(s)),
                    "wall_s": round((s["end"] - s["start"]) / 1e3, 3),
                    "tasks": s["tasks"],
                }
                for s in (log.stages.get(x) for x in j["stages"])
                if s is not None and s["start"] is not None
            ],
        })
    return {
        "wall_s": wall / 1e3,
        "driver_gap_s": gap_ms / 1e3,
        "job_union_s": job_union / 1e3,
        "stage_union_s": stage_union / 1e3,
        "attributed_frac": (stage_union + gap_ms) / wall if wall > 0 else 0.0,
        "groups": groups,
        "jobs": job_rows,
        "n_jobs": len(jobs),
        "n_tasks": sum(s["tasks"] for s in stages),
        "_stages": stages,
    }


def kind_stage_s(log: Log, stages: list[dict], kind: str) -> float:
    """Wall of the stages that run a node of ``kind``."""
    return sum(
        (s["end"] - s["start"]) / 1e3 for s in stages
        if kind in log.stage_kinds(s)
    )


def engine_metrics(log: Log, stages: list[dict]) -> dict[str, float]:
    return {
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spark.python_init_s": (
            log.metric_sum(stages, PY_START) + log.metric_sum(stages, PY_INIT)
        ) / 1e3,
        "spark.shuffle_write_bytes": float(sum(s["shuffle_write"] for s in stages)),
        "spark.spill_bytes": float(sum(s["spill"] for s in stages)),
        "spark.max_task_shuffle_read_bytes": float(
            max((s["shuffle_read_max"] for s in stages), default=0)
        ),
    }


def write_metrics(log: Log, stages: list[dict], path_part: str) -> dict:
    """Files, bytes, rows and commit times of the inserts whose target
    path contains ``path_part``. Files, bytes, rows and job commit time
    are driver-side accumulators; task commit time comes from the
    tasks."""
    ids = {
        acc_id: name
        for acc_id, (kind, name, simple) in log.accum.items()
        if kind == "write" and path_part in simple
    }
    out = {"files": 0.0, "bytes": 0.0, "rows": 0.0, "task_commit_s": 0.0,
           "job_commit_s": 0.0}
    touched = set()
    for st in stages:
        for acc_id, val in st["accum"].items():
            name = ids.get(acc_id)
            if name == TASK_COMMIT:
                out["task_commit_s"] += val / 1e3
            if name is not None:
                touched.add(acc_id)
    # driver-side write stats belong to the executions whose tasks ran
    # in these stages: select them through the same nodes
    node_of = {}
    for acc_id, (kind, name, simple) in log.accum.items():
        if acc_id in ids:
            node_of.setdefault(simple, []).append(acc_id)
    for simple, acc_ids in node_of.items():
        if not any(a in touched for a in acc_ids):
            continue
        for a in acc_ids:
            name = ids[a]
            val = log.driver_accum.get(a, 0)
            if name == FILES:
                out["files"] += val
            elif name == WRITTEN:
                out["bytes"] += val
            elif name == OUT_ROWS:
                out["rows"] += val
            elif name == JOB_COMMIT:
                out["job_commit_s"] += val / 1e3
    return out


def python_metrics(log: Log, stages: list[dict], kind: str) -> dict[str, float]:
    return {
        "run_s": log.node_sum(stages, kind, PY_RUN) / 1e3,
        "sent_bytes": log.node_sum(stages, kind, PY_SENT),
        "returned_bytes": log.node_sum(stages, kind, PY_BACK),
    }
