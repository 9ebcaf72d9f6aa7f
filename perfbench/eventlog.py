"""Offline reader of Spark's uncompressed JSON event log, and the
per-layer metrics built from it and from the benchmark's own spans.

Jobs are attributed to a layer by the tokens_ts module:line Spark records
as their call site; jobs whose call site is outside tokens_ts (writes,
adaptive sub-jobs) go to the innermost benchmark span that was open when
they were submitted. Spans and event-log times share the Unix clock."""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path

_CALLSITE = re.compile(r"tokens_ts/([\w/]+)\.py:(\d+)")
_PY_SCOPES = ("Python", "InPandas", "InArrow", "ArrowEval")
TIER_TABLES = ("t1m", "t1h", "t1d")
WRITE_SPANS = ("io.catalog.overwrite_partitions", "io.catalog.append")


@dataclass
class Task:
    kind: str
    run_s: float
    gc_s: float
    spill_bytes: int
    shuffle_w_bytes: int
    shuffle_w_records: int
    shuffle_w_s: float
    fetch_wait_s: float


@dataclass
class Stage:
    parents: list
    python: bool
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    submit: float
    end: float | None
    module: str | None
    site: str | None
    stage_ids: list


@dataclass
class SqlExec:
    start: float
    metrics: dict = field(default_factory=dict)  # metric name → total


def callsite_module(callsite: str) -> tuple[str | None, str | None]:
    """('io.catalog', 'io/catalog.py:123') for a tokens_ts call site."""
    m = _CALLSITE.search(callsite or "")
    if not m:
        return None, None
    return m.group(1).replace("/", "."), f"{m.group(1)}.py:{m.group(2)}"


def event_files(path: Path) -> list[Path]:
    """A single-file log, or the events_* parts of a rolled log directory."""
    path = Path(path)
    if path.is_dir():
        return sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    return [path]


class EventLog:
    def __init__(self, path):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.sql: dict[int, SqlExec] = {}
        self._acc: dict[int, tuple[int, str, str]] = {}  # id → (exec, node, metric)
        self._acc_total: dict[int, float] = {}
        for f in event_files(path):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        self._add(json.loads(line))
        for acc, total in self._acc_total.items():
            if acc in self._acc:
                ex, node, metric = self._acc[acc]
                if ex in self.sql:
                    key = f"{_node_class(node)}:{metric}"
                    m = self.sql[ex].metrics
                    m[key] = m.get(key, 0) + total

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos", [])
            cs = props.get("callSite.short") or (infos[0]["Stage Name"] if infos else "")
            module, site = callsite_module(cs)
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1000.0, None, module, site,
                list(e.get("Stage IDs", [])),
            )
            for si in infos:
                py = any(
                    any(s in (r.get("Scope") or "") for s in _PY_SCOPES)
                    for r in si.get("RDD Info", [])
                )
                self.stages.setdefault(si["Stage ID"], Stage(list(si.get("Parent IDs", [])), py))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = SqlExec(e["time"] / 1000.0)
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, v in e.get("accumUpdates", []):
                self._acc_total[acc] = self._acc_total.get(acc, 0) + float(v)

    def _plan(self, ex: int, info: dict) -> None:
        for m in info.get("metrics", []):
            self._acc.setdefault(m["accumulatorId"], (ex, info["nodeName"], m["name"]))
        for c in info.get("children", []):
            self._plan(ex, c)

    def _task(self, e: dict) -> None:
        info = e.get("Task Info", {})
        for a in info.get("Accumulables", []):
            if a.get("ID") in self._acc and "Update" in a:
                try:
                    self._acc_total[a["ID"]] = self._acc_total.get(a["ID"], 0) + float(a["Update"])
                except (TypeError, ValueError):
                    pass
        m = e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        stage = self.stages.setdefault(e["Stage ID"], Stage([], False))
        stage.tasks.append(Task(
            e.get("Task Type", ""),
            m.get("Executor Run Time", 0) / 1000.0,
            m.get("JVM GC Time", 0) / 1000.0,
            m.get("Disk Bytes Spilled", 0),
            sw.get("Shuffle Bytes Written", 0),
            sw.get("Shuffle Records Written", 0),
            sw.get("Shuffle Write Time", 0) / 1e9,
            sr.get("Fetch Wait Time", 0) / 1000.0,
        ))

    def job_tasks(self, job: Job):
        for sid in job.stage_ids:
            st = self.stages.get(sid)
            if st is not None:
                for t in st.tasks:
                    yield st, t


def _node_class(node: str) -> str:
    if node.startswith("Scan "):
        return "scan"
    if "InsertInto" in node or node.startswith("Execute "):
        return "write"
    return node


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


class Attribution:
    """Joins the spans of one traced session with its event log."""

    def __init__(self, log: EventLog, spans: list[dict]):
        self.log = log
        self.spans = spans
        self.children: dict[int, list[int]] = {}
        for i, s in enumerate(spans):
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(i)

    def innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= self.spans[best]["start"]):
                best = i
        return best

    def ancestors(self, i: int | None):
        while i is not None:
            yield i
            i = self.spans[i]["parent"]

    def under(self, i: int | None, pred) -> int | None:
        """Nearest span at or above i that satisfies pred."""
        for a in self.ancestors(i):
            if pred(self.spans[a]):
                return a
        return None

    def descendants(self, i: int) -> list[int]:
        out, stack = [], list(self.children.get(i, []))
        while stack:
            j = stack.pop()
            out.append(j)
            stack.extend(self.children.get(j, []))
        return out

    def self_s(self, i: int) -> float:
        s = self.spans[i]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children.get(i, [])]
        return (s["end"] - s["start"]) - union_s(kids)

    def job_layer(self, job: Job) -> str:
        if job.module is not None:
            return job.module
        i = self.innermost(job.submit)
        return self.spans[i]["layer"] if i is not None else "benchmark"

    def op_metrics(self, op: int) -> dict:
        """Layer metrics of one operation span (totals, not averages)."""
        s = self.spans[op]
        t0, t1 = s["start"], s["end"]
        wall = t1 - t0
        jobs = [j for j in self.log.jobs.values() if t0 <= j.submit <= t1]
        ivals = [(j.submit, min(j.end or t1, t1)) for j in jobs]
        in_jobs = union_s(ivals)
        inner = {j.id: self.innermost(j.submit) for j in jobs}

        def in_span(j, pred):
            return self.under(inner[j.id], pred) is not None

        def is_write(sp):
            return sp["name"] in WRITE_SPANS

        def is_tier_write(sp):
            return is_write(sp) and sp.get("table") in TIER_TABLES

        def is_ckpt(sp):
            return sp["layer"] == "checkpoint"

        out = {
            "wall_s": wall,
            "jobs": len(jobs),
            "outside_jobs_s": wall - in_jobs,
            "planning_s": (min(j.submit for j in jobs) - t0) if jobs else wall,
            "pipeline_scan_s": union_s([iv for j, iv in zip(jobs, ivals) if j.module == "pipeline"]),
            "checkpoint_jobs": sum(
                1 for j in jobs if j.module == "checkpoint" or (j.module is None and in_span(j, is_ckpt))
            ),
            "write_jobs": sum(1 for j in jobs if j.module is None and in_span(j, is_write)),
        }
        desc = [op] + self.descendants(op)
        top_ckpt = [i for i in desc if is_ckpt(self.spans[i]) and not (
            self.spans[i]["parent"] is not None and is_ckpt(self.spans[self.spans[i]["parent"]]))]
        out["checkpoint_s"] = sum(self.spans[i]["end"] - self.spans[i]["start"] for i in top_ckpt)
        out["write_s"] = sum(self.spans[i]["end"] - self.spans[i]["start"]
                             for i in desc if is_write(self.spans[i]))
        # SQL executions started inside the op, split by the span they ran in
        files_w = bytes_w = files_r = 0.0
        for sql in self.log.sql.values():
            if not (t0 <= sql.start <= t1):
                continue
            files_r += sql.metrics.get("scan:number of files read", 0)
            if self.under(self.innermost(sql.start), is_write) is not None:
                files_w += sql.metrics.get("write:number of written files", 0)
                bytes_w += sql.metrics.get("write:written output", 0)
        out.update(files_written=files_w, bytes_written=bytes_w, files_read=files_r)
        tasks = [(j, st, t) for j in jobs for st, t in self.log.job_tasks(j)]
        tier = [(st, t) for j, st, t in tasks if j.module is None and in_span(j, is_tier_write)]
        out["tier_shuffle_bytes"] = sum(t.shuffle_w_bytes for _, t in tier)
        out["tier_shuffle_records"] = sum(t.shuffle_w_records for _, t in tier)
        out["map_tasks"] = sum(1 for _, _, t in tasks if t.kind == "ShuffleMapTask")
        out["reduce_tasks"] = sum(1 for _, st, _ in tasks if st.parents)
        out["gc_s"] = sum(t.gc_s for _, _, t in tasks)
        out["spill_bytes"] = sum(t.spill_bytes for _, _, t in tasks)
        out["python_task_s"] = sum(t.run_s for _, st, t in tasks if st.python)
        out["exchange_task_s"] = sum(t.shuffle_w_s + t.fetch_wait_s for _, _, t in tasks)
        out["skew_weighted"], out["skew_weight"] = _skew(self.log, jobs)
        # self time per span layer, and per job call site
        layers: dict[str, float] = {}
        for i in desc:
            layer = self.spans[i]["layer"]
            layers[layer] = layers.get(layer, 0.0) + self.self_s(i)
        out["layer_self_s"] = layers
        sites: dict[str, float] = {}
        for j, (a, b) in zip(jobs, ivals):
            key = j.site or self.job_layer(j)
            sites[key] = sites.get(key, 0.0) + (b - a)
        out["site_s"] = sites
        return out


def _skew(log: EventLog, jobs) -> tuple[float, float]:
    """Σ(stage skew × stage task time) and Σ stage task time over stages
    with at least two tasks; skew = max ÷ median task run time."""
    num = den = 0.0
    seen = set()
    for j in jobs:
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if sid in seen or st is None or len(st.tasks) < 2:
                continue
            seen.add(sid)
            runs = [t.run_s for t in st.tasks]
            med = statistics.median(runs)
            total = sum(runs)
            if med > 0:
                num += (max(runs) / med) * total
                den += total
    return num, den


def sum_ops(per_op: list[dict]) -> dict:
    """Add op_metrics dicts together (nested dicts key by key)."""
    out: dict = {}
    for d in per_op:
        for k, v in d.items():
            if isinstance(v, dict):
                tgt = out.setdefault(k, {})
                for kk, vv in v.items():
                    tgt[kk] = tgt.get(kk, 0.0) + vv
            else:
                out[k] = out.get(k, 0.0) + v
    return out
