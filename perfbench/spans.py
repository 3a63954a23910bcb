"""Traced-run tooling: spans around the program's public functions, a
Spark event-log reader keyed by job group, and self-time arithmetic.

Spans are recorded from the benchmark's side only: ``install`` patches
each wrapped function where its caller looks the name up (for example
``write_segment`` as imported into ``toshi_spark.index.catalog``), so
no program file changes.  A wrapper around a function that returns a
DataFrame times only the planning; execution is timed by the action
wrappers (``collect``, ``count``, writes) and lands in the enclosing
span as a child ``action`` span.

Tracing is switched per request: ``Tracer.request`` opens a request
span only when the request is marked traced, and every wrapper checks
the calling thread's current request, so traced and untraced requests
can interleave (that is how ``trace.overhead_pct`` is measured).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

# (module path, attribute path, span name): the public functions the
# benchmark times, patched where their caller resolves them
WRAPPED = [
    ("toshi_spark.api", "ToshiApi._bulk", "api.bulk"),
    ("toshi_spark.engine", "parse_search", "dsl.parse"),
    ("toshi_spark.index.catalog", "IndexCatalog.open", "catalog.open"),
    ("toshi_spark.index.catalog", "open_segmented_tables", "segments.open"),
    ("toshi_spark.query.compiler", "Compiler.compile", "compiler.compile"),
    ("toshi_spark.engine", "FullTextIndex.search", "engine.search"),
    ("toshi_spark.engine", "FullTextIndex.search_df", "engine.plan"),
    ("toshi_spark.engine", "FullTextIndex.facet_counts", "engine.facet"),
    ("toshi_spark.engine", "SearchResults.to_json", "engine.render"),
    ("toshi_spark.index.catalog", "IndexCatalog.flush", "catalog.flush"),
    ("toshi_spark.index.catalog", "build_index", "builder.build"),
    ("toshi_spark.index.catalog", "write_segment", "segments.write"),
    ("toshi_spark.index.merge", "run_merge", "merge.run"),
    ("toshi_spark.index.merge", "write_segment", "merge.write"),
    ("toshi_spark.index.catalog", "IndexCatalog.delete_term",
     "catalog.delete"),
]

# pyspark actions: execution time is attributed to the enclosing span
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "action.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "action.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint",
     "action.checkpoint"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "action.write"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple] = []

    # ------------------------------------------------------------ spans

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        """A child span of the calling thread's open span; a no-op when
        the thread has no traced request open."""
        st = self._stack()
        if not st:
            yield None
            return
        parent = st[-1]
        sp = {"id": self._new_id(), "name": name, "parent": parent["id"],
              "request": parent["request"], "start": time.perf_counter()}
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def request(self, request_id: str, op: str, traced: bool):
        """The root span of one operation (a search, a commit, a
        pipeline stage).  Untraced requests open nothing."""
        if not traced:
            yield None
            return
        sp = {"id": self._new_id(), "name": "request", "parent": None,
              "request": request_id, "op": op,
              "start": time.perf_counter()}
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float) -> None:
        st = self._stack()
        if st:
            with self._lock:
                self.counts.append({"name": name, "value": value,
                                    "request": st[-1]["request"]})

    # ---------------------------------------------------------- wrappers

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                before = None
                if sp is not None and name == "merge.run":
                    before = _manifest_bytes(args[1])
                out = fn(*args, **kwargs)
                if sp is not None:
                    tracer._observe(name, args, out, before)
                return out

        return wrapper

    def _observe(self, name: str, args, out, before) -> None:
        """Counts taken at the span boundary."""
        if name == "segments.open":
            from toshi_spark.index.segments import Manifest

            self.count("segments.count", len(Manifest(args[1]).entries()))
        elif name == "merge.run" and out:
            after = _manifest_bytes(args[1])
            self.count("merge.runs", len(out))
            self.count("merge.bytes_rewritten",
                       sum(b for s, b in before.items() if s not in after))

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in WRAPPED + ACTIONS:
            mod = importlib.import_module(mod_name)
            owner = mod
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            setattr(owner, parts[-1], self._wrap(orig, span_name))
            self._patched.append((owner, parts[-1], orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


def _manifest_bytes(index_dir: str) -> dict[str, int]:
    from toshi_spark.index.segments import Manifest

    return {e.segment_id: e.bytes for e in Manifest(index_dir).entries()}


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time (s): duration minus the union of the
    intervals its child spans cover."""
    children = children_of(spans)
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        for s in spans
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
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


# --------------------------------------------------------- event log

PY_METRICS = {
    "time to start Python workers": "py_start",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
}


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Job group → Spark metrics summed over the group's jobs.

    Reads every (uncompressed, non-rolling) application log in
    ``log_dir``; a run can hold several applications when it restarts
    its session.  Per group: jobs, stages, tasks, job intervals
    (epoch ms), first-task queue wait, executor CPU, shuffle write and
    spill bytes, parquet scan rows, bytes written, and the Python
    exec-node timings split by node (``MapInArrow`` / ``MapInPandas``
    / other Python nodes)."""
    groups: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or path.endswith(".inprogress"):
            continue
        _read_one(path, groups)
    return groups


def _walk_plan(info: dict, accs: dict) -> None:
    for m in info.get("metrics", []):
        accs[m["accumulatorId"]] = (info["nodeName"], m["name"],
                                    m.get("metricType", "sum"))
    for c in info.get("children", []):
        _walk_plan(c, accs)


def _read_one(path: str, groups: dict) -> None:
    accs: dict[int, tuple] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    stage_first_launch: dict[int, float] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "job_intervals": [],
            "queue_wait_ms": 0.0, "executor_cpu_ms": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "scan_rows": 0,
            "bytes_written": 0, "py": {},
        })

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], accs)
            elif ev == "SparkListenerJobStart":
                grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is None:
                    continue
                job_group[e["Job ID"]] = grp
                job_start[e["Job ID"]] = e["Submission Time"]
                g(grp)["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = grp
            elif ev == "SparkListenerJobEnd":
                grp = job_group.get(e["Job ID"])
                if grp is not None:
                    g(grp)["job_intervals"].append(
                        (job_start[e["Job ID"]], e["Completion Time"]))
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get(
                    "Submission Time", 0)
            elif ev == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                grp = stage_group.get(sid)
                if grp is not None and sid in stage_first_launch:
                    gg = g(grp)
                    gg["stages"] += 1
                    gg["queue_wait_ms"] += max(
                        0.0, stage_first_launch[sid]
                        - stage_submit.get(sid, stage_first_launch[sid]))
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                grp = stage_group.get(sid)
                if grp is None:
                    continue
                gg = g(grp)
                gg["tasks"] += 1
                ti = e["Task Info"]
                launch = ti["Launch Time"]
                stage_first_launch[sid] = min(
                    stage_first_launch.get(sid, launch), launch)
                tm = e.get("Task Metrics") or {}
                gg["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                gg["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
                gg["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0))
                gg["bytes_written"] += (tm.get("Output Metrics") or {}
                                        ).get("Bytes Written", 0)
                for a in ti.get("Accumulables", []):
                    meta = accs.get(a.get("ID"))
                    if meta is None:
                        continue
                    node, metric, mtype = meta
                    try:
                        upd = float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    if node.startswith("Scan parquet") and \
                            metric == "number of output rows":
                        gg["scan_rows"] += upd
                    elif metric in PY_METRICS:
                        ms = upd / 1e6 if mtype == "nsTiming" else upd
                        key = f"{node}.{PY_METRICS[metric]}"
                        gg["py"][key] = gg["py"].get(key, 0.0) + ms
