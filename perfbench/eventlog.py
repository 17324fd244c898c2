"""Fold a Spark event log into per-layer numbers.

Reads the uncompressed rolling log (``eventlog_v2_<app>/events_<n>_<app>``)
that a session started with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` leaves behind. Every SQL execution is
attributed to a pipeline layer by the output path of its write command,
relative to the run's output directory:

    routed            -> route        table_map_dim -> enrich
    sinks/<S>         -> decode       sinks/_grp_<S> -> decode
    lineage           -> lineage      agg/*          -> aggregate

Task metrics (CPU, input, shuffle) reach an execution through its jobs'
stages; SQL metrics (Python bridge bytes and times, written files, job
commit time) through their accumulator ids.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path

from binlogpipe.layout import SALT_FACTORS

_WRITE_PATH = re.compile(r"Arguments: (?:file:)?(/[^,\s]+)")
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # to seconds; others are raw


@dataclass
class Execution:
    start: float
    end: float | None = None
    path: str | None = None
    metrics: dict[str, float] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    jobs: int = 0


class Fold:
    """Executions, jobs and tasks of one application's event log."""

    def __init__(self, log_dir: Path):
        self.acc: dict[int, tuple[str, str]] = {}  # id -> (name, type)
        self.execs: dict[int, Execution] = {}
        self.root: dict[int, int] = {}
        self.job_times: list[float] = []  # submission times
        self.stage_exec: dict[int, int] = {}
        self.tasks: list[dict] = []
        files = sorted(log_dir.glob("eventlog_v2_*/events_*"),
                       key=lambda p: int(p.name.split("_")[1]))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        for f in files:
            with f.open() as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            name = m["name"]
            if name == "number of output rows":  # keep only scan and write
                if node["nodeName"].startswith("Scan"):
                    name = "scan rows"
                elif "InsertInto" in node["nodeName"]:
                    name = "written rows"
                else:
                    continue
            self.acc[m["accumulatorId"]] = (name, m["metricType"])
        for child in node.get("children", ()):
            self._plan(child)

    def _add(self, ex: Execution, acc_id: int, value) -> None:
        if acc_id in self.acc:
            name, kind = self.acc[acc_id]
            ex.metrics[name] = (ex.metrics.get(name, 0.0)
                                + float(value) * _SCALE.get(kind, 1.0))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            eid = e["executionId"]
            root = e.get("rootExecutionId", eid)
            self.root[eid] = root if root in self.execs else eid
            ex = self.execs.setdefault(self.root[eid],
                                       Execution(e["time"] / 1e3))
            m = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
            if m and ex.path is None:
                ex.path = m.group(1)
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLExecutionEnd":
            eid = e["executionId"]
            if self.root.get(eid) == eid:
                self.execs[eid].end = e["time"] / 1e3
        elif kind == "SparkListenerDriverAccumUpdates":
            ex = self.execs.get(self.root.get(e["executionId"], -1))
            if ex is not None:
                for acc_id, value in e["accumUpdates"]:
                    self._add(ex, acc_id, value)
        elif kind == "SparkListenerJobStart":
            eid = e.get("Properties", {}).get("spark.sql.execution.id")
            root = self.root.get(int(eid)) if eid is not None else None
            self.job_times.append(e["Submission Time"] / 1e3)
            if root is not None:
                self.execs[root].jobs += 1
                for sid in e["Stage IDs"]:
                    self.stage_exec[sid] = root
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            task = {
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1e3,
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
            }
            self.tasks.append(task)
            ex = self.execs.get(self.stage_exec.get(e["Stage ID"], -1))
            if ex is not None:
                ex.tasks.append(task)
                for a in info.get("Accumulables", ()):
                    if "Update" in a:
                        self._add(ex, a["ID"], a["Update"])

    # ---- queries over one timed unit --------------------------------------

    def executions(self, t0: float, t1: float) -> list[Execution]:
        return [x for x in self.execs.values() if t0 <= x.start <= t1]

    def jobs_between(self, t0: float, t1: float) -> int:
        return sum(t0 <= t <= t1 for t in self.job_times)

    def tasks_between(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] <= t1]


def layer_of(path: str | None, out_dir: str) -> str:
    if not path or not path.startswith(out_dir.rstrip("/") + "/"):
        return "other"
    rel = path[len(out_dir.rstrip("/")) + 1:]
    head = rel.split("/", 1)[0]
    return {"routed": "route", "table_map_dim": "enrich", "sinks": "decode",
            "lineage": "lineage", "agg": "aggregate"}.get(head, "other")


def _sum(execs: list[Execution], *names: str) -> float:
    return sum(x.metrics.get(n, 0.0) for x in execs for n in names)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def _skew(tasks: list[dict]) -> float:
    """max/median task run time of the layer's heaviest stage."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


def sink_class(path: str) -> str:
    """'hot' for the router's salted sinks, 'rows' for *_ROWS_V2, else
    'other'; a same-schema group write ``sinks/_grp_<S>`` counts as S."""
    sink = path.rstrip("/").rsplit("/", 1)[-1].removeprefix("_grp_")
    if sink in SALT_FACTORS:
        return "hot"
    return "rows" if sink.endswith("_ROWS_V2") else "other"


def unit_layers(fold: Fold, t0: float, t1: float, out_dir: str,
                events: int, writes: list[tuple[str, float, float]]) -> dict:
    """Per-layer metrics of one ``job.run_pipeline`` call that ran in
    ``[t0, t1]`` and wrote under ``out_dir``. ``writes`` are the
    (path, start, end) of the DataFrameWriter calls it made."""
    execs = fold.executions(t0, t1)
    by: dict[str, list[Execution]] = {}
    for x in execs:
        lname = layer_of(x.path, out_dir)
        by.setdefault(lname, []).append(x)
        if lname == "decode":
            by.setdefault("decode." + sink_class(x.path), []).append(x)
    walls: dict[str, list[tuple[float, float]]] = {}
    for path, s, e in writes:
        lname = layer_of(path, out_dir)
        walls.setdefault(lname, []).append((s, e))
        if lname == "decode":
            walls.setdefault("decode." + sink_class(path), []).append((s, e))

    def layer(name: str) -> list[Execution]:
        return by.get(name, [])

    def tasks(name: str) -> list[dict]:
        return [t for x in layer(name) for t in x.tasks]

    def task_s(name: str) -> float:
        return sum(t["run_ms"] for t in tasks(name)) / 1e3

    busy = [(max(x.start, t0), min(x.end or t1, t1)) for x in execs]
    py_start = ("time to start Python workers",
                "time to initialize Python workers")
    sent, back = "data sent to Python workers", "data returned from Python workers"
    py_run = "time to run Python workers"
    return {
        "run.jobs": fold.jobs_between(t0, t1),
        "run.executor_cpu_s": sum(t["cpu_ns"] for t in
                                  fold.tasks_between(t0, t1)) / 1e9,
        "run.python_start_s": _sum(execs, *py_start),
        "run.driver_gap_s": (t1 - t0) - _union(busy),
        "run.output_bytes": _sum(execs, "written output"),
        "route.wall_s": _union(walls.get("route", [])),
        "route.task_s": task_s("route"),
        "route.py_sent_bytes_per_event": _sum(layer("route"), sent) / events,
        "route.py_returned_bytes_per_event":
            _sum(layer("route"), back) / events,
        "route.py_run_s": _sum(layer("route"), py_run),
        "route.shuffle_write_bytes":
            sum(t["shuffle_write_bytes"] for t in tasks("route")),
        "route.task_skew": _skew(tasks("route")),
        "route.files_written": _sum(layer("route"), "number of written files"),
        "enrich.wall_s": _union(walls.get("enrich", [])),
        "enrich.task_s": task_s("enrich"),
        "enrich.table_map_rows": _sum(layer("enrich"), "scan rows"),
        "enrich.dim_rows": _sum(layer("enrich"), "written rows"),
        "enrich.py_run_s": _sum(layer("enrich"), py_run),
        "decode.wall_s": _union(walls.get("decode", [])),
        "decode.jobs": sum(x.jobs for x in layer("decode")),
        "decode.hot_wall_s": _union(walls.get("decode.hot", [])),
        "decode.rows_wall_s": _union(walls.get("decode.rows", [])),
        "decode.hot_task_s": task_s("decode.hot"),
        "decode.rows_task_s": task_s("decode.rows"),
        "decode.py_sent_bytes_per_event": _sum(layer("decode"), sent) / events,
        "decode.py_run_s": _sum(layer("decode"), py_run),
        "decode.commit_s": _sum(layer("decode"), "job commit time"),
        "lineage.wall_s": _union(walls.get("lineage", [])),
        "lineage.task_s": task_s("lineage"),
        "lineage.scan_bytes": sum(t["input_bytes"] for t in tasks("lineage")),
        "aggregate.wall_s": _union(walls.get("aggregate", [])),
        "aggregate.task_s": task_s("aggregate"),
        "aggregate.scan_bytes":
            sum(t["input_bytes"] for t in tasks("aggregate")),
        "aggregate.groups": _sum(layer("aggregate"), "written rows"),
    }
