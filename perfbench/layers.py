"""Span recording around layer calls, and the Spark event-log parser that
turns a traced run into per-layer metrics.

Spans are kept in memory: (id, name, start, end, parent, thread). Each span
also sets the Spark job description of the calling thread to its label, so
every job Spark starts inside the span -- including jobs started from the
pipeline's writer threads -- can be attributed to it from the event log.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LABEL_PREFIX = "perfbench#"

# scope names of the plan nodes that run Python workers
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "PythonMapInArrow")


class Tracer:
    """In-memory span recorder. Spans opened in a thread with no open span
    of its own take the current run span as parent."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: int | None = None
        self.spans: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        prev_desc = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(f"{LABEL_PREFIX}{sid}")
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self._sc.setJobDescription(prev_desc)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent,
                                   "thread": threading.get_ident()})

    @contextmanager
    def run_span(self, name: str):
        """Top-level span of one measured operation."""
        with self.span(name) as sid:
            self.root = sid
            try:
                yield sid
            finally:
                self.root = None

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``name_of(*args, **kwargs)``. ``unwrap_all`` restores it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# --- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed) event log under ``log_dir`` into jobs and
    stages with their task-level metrics."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith(".") and not n.startswith("appstatus")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"tasks": [], "scopes": set(), "acc": {},
                                       "submit": None, "complete": None})

    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "stages": list(e.get("Stage IDs", [])),
                        "submit": e["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stage(si["Stage ID"])
                    for rdd in si.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        st["scopes"].add(json.loads(scope)["name"] if scope
                                         else rdd.get("Name", ""))
                    # one entry per accumulator; two plan nodes of a stage
                    # can carry metrics of the same name, so sum by name
                    for acc in si.get("Accumulables", []):
                        try:
                            value = float(acc["Value"])
                        except (TypeError, ValueError):
                            continue
                        st["acc"][acc["Name"]] = \
                            st["acc"].get(acc["Name"], 0.0) + value
                    st["submit"] = si.get("Submission Time", 0) / 1000.0
                    st["complete"] = si.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    ti = e["Task Info"]
                    sw = tm.get("Shuffle Write Metrics") or {}
                    stage(e["Stage ID"])["tasks"].append({
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "run": tm.get("Executor Run Time", 0) / 1000.0,
                        "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc": tm.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "stages": stages}


def is_python_stage(st: dict) -> bool:
    return any(s in _PYTHON_NODES for s in st["scopes"]) or \
        "time to run Python workers" in st["acc"]


def stage_sums(stages: list[dict]) -> dict:
    """Executor and Python-boundary totals over ``stages``."""
    tasks = [t for st in stages for t in st["tasks"]]
    durs = [t["dur"] for t in tasks]
    acc = defaultdict(float)
    for st in stages:
        for k, v in st["acc"].items():
            acc[k] += v
    med = statistics.median(durs) if durs else 0.0
    return {
        "wall_s": sum((st["complete"] or 0) - (st["submit"] or 0)
                      for st in stages),
        "run_s": sum(t["run"] for t in tasks),
        "cpu_s": sum(t["cpu"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "python_init_s": (acc["time to start Python workers"]
                          + acc["time to initialize Python workers"]) / 1000.0,
        "python_run_s": acc["time to run Python workers"] / 1000.0,
        "arrow_to_python": acc["data sent to Python workers"],
        "arrow_from_python": acc["data returned from Python workers"],
        "task_skew": (max(durs) / med) if med > 0 else 0.0,
    }


class Attribution:
    """Jobs and stages of an event log mapped onto the recorded spans."""

    def __init__(self, log: dict, spans: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.stages = log["stages"]
        self.self_jobs: dict[int, list[int]] = defaultdict(list)
        self.unattributed_jobs: list[int] = []
        for jid, job in log["jobs"].items():
            desc = job["desc"] or ""
            sid = (int(desc[len(LABEL_PREFIX):])
                   if desc.startswith(LABEL_PREFIX) else None)
            if sid in self.spans:
                self.self_jobs[sid].append(jid)
            else:
                self.unattributed_jobs.append(jid)
        self.jobs = log["jobs"]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def jobs_under(self, sid: int) -> list[int]:
        return [j for s in self.subtree(sid) for j in self.self_jobs[s]]

    def stages_of(self, job_ids: list[int]) -> list[dict]:
        seen, out = set(), []
        for j in job_ids:
            for st in self.jobs[j]["stages"]:
                # stages skipped by shuffle reuse never complete
                if st in self.stages and st not in seen and \
                        self.stages[st]["tasks"]:
                    seen.add(st)
                    out.append(self.stages[st])
        return out

    def sums_under(self, sid: int) -> dict:
        return stage_sums(self.stages_of(self.jobs_under(sid)))

    def named_children(self, sid: int, name: str) -> list[dict]:
        return [self.spans[c] for c in self.subtree(sid)
                if self.spans[c]["name"] == name]

    def wall(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.spans[sid]
        ivs = sorted((self.spans[c]["start"], self.spans[c]["end"])
                     for c in self.children.get(sid, []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def spark_wide(self, rid: int) -> dict:
        """Executor totals of every job started while the run span was
        open, and the share of executor run time that no layer span claims:
        jobs with no span label, and jobs the run span itself started."""
        start, end = self.spans[rid]["start"], self.spans[rid]["end"]
        in_run = [j for j, job in self.jobs.items()
                  if start <= job["submit"] <= end]
        loose = set(self.unattributed_jobs) | set(self.self_jobs[rid])
        total = stage_sums(self.stages_of(in_run))
        loose = stage_sums(self.stages_of([j for j in in_run if j in loose]))
        share = loose["run_s"] / total["run_s"] if total["run_s"] else 0.0
        return {"total": total, "unattributed_share": share}
