"""Spans kept in memory, and Spark's own records read back from its event log.

The benchmark never reaches into the package.  It records spans around its
own calls into the package's public functions (``Spans``), tags every query
with a Spark job group, and after the run attributes Spark's job, stage,
task and SQL-metric records to each query through that tag
(``EventLog.query_facts``).  The event log is plain JSON lines written by
Spark itself (``spark.eventLog.*``), so every number here is as Spark
measured it: task times from TaskEnd metrics, SQL metrics from the raw
per-task accumulator updates, plan shapes from the final adaptive plan.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

PLAN_BROADCAST_JOINS = {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}
PLAN_SHUFFLE_JOINS = {"SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"}
PLAN_EXCHANGES = {"Exchange", "BroadcastExchange"}

# generator expressions that emit join terms / tile candidates, by layer:
# operators/spatial.py explodes `__term`, operators/bbox_fast.py explodes
# cover cells (__s* stream, __q* ref) and zoom tiles (__z*)
_STREAM_TERMS = re.compile(r"explode\((concat\(__cov|sequence\(__sty0)")
_REF_TERMS = re.compile(r"explode\((concat\(__ref_cov|sequence\(__qty0)")
_TILE_CANDIDATES = re.compile(r"explode\(sequence\(__zty0")
_TERM_JOIN_KEY = re.compile(r"\[(__term|__scell)#")


class Spans:
    """Named spans with parents, kept in memory and written out at the end."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _walk(node, parent=None, in_cache=False):
    """Yield (node, parent, inside-a-cached-plan) over a sparkPlanInfo tree."""
    yield node, parent, in_cache
    cached = in_cache or node["nodeName"] == "InMemoryTableScan"
    for child in node.get("children", []):
        yield from _walk(child, node, cached)


class EventLog:
    """Spark's event log of this application, parsed into per-query facts."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.plans: dict[int, dict] = {}
        self.accum: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(eid) if eid is not None else None,
            }
            # a stage runs in the first job that lists it; later jobs that
            # reuse its shuffle output list it as skipped
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st = self.stages.setdefault(
                (e["Stage ID"], e["Stage Attempt ID"]),
                {"tasks": [], "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
                 "shuffle_write": 0, "spill": 0, "start": None, "end": None})
            st["tasks"].append(m.get("Executor Run Time", 0))
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    self.accum[a["ID"]] = (self.accum.get(a["ID"], 0)
                                           + int(a["Update"]))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.get((si["Stage ID"], si["Stage Attempt ID"]))
            if st is not None:
                st["start"] = si.get("Submission Time")
                st["end"] = si.get("Completion Time")
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.accum[aid] = self.accum.get(aid, 0) + int(v)

    def metric(self, node, name: str) -> int:
        """Raw value of the node's SQL metric `name` (0 when absent)."""
        return sum(self.accum.get(m["accumulatorId"], 0)
                   for m in node.get("metrics", []) if m["name"] == name)

    def query_facts(self, group: str) -> dict:
        """Facts of the query tagged `group`: its jobs, tasks, the shape of
        its last (materializing) plan, and the SQL metrics of every plan it
        ran, including plan-time jobs inside the operator call."""
        jobs = [j for j, v in self.jobs.items() if v["group"] == group]
        execs = sorted({self.jobs[j]["execution"] for j in jobs
                        if self.jobs[j]["execution"] is not None})
        stages = [st for (sid, _), st in self.stages.items()
                  if self.stage_job.get(sid) in jobs]
        tasks = [t for st in stages for t in st["tasks"]]
        f = {
            "driver.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": len(tasks),
            "exec.task_run_s": sum(tasks) / 1e3,
            "exec.task_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
            "exec.gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
            "exec.shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / MB,
            "exec.shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / MB,
            "exec.spill_mb": sum(st["spill"] for st in stages) / MB,
            "exec.task_skew": 0.0,
        }
        timed = [st for st in stages if st["start"] and st["end"] and st["tasks"]]
        if timed:
            longest = max(timed, key=lambda st: st["end"] - st["start"])
            med = statistics.median(longest["tasks"])
            f["exec.task_skew"] = max(longest["tasks"]) / med if med > 0 else 1.0

        # SQL metrics over every plan the query ran; a cached or reused
        # subtree appears in several plans under the same accumulator ids,
        # so nodes are keyed by their accumulators and counted once
        seen, udf, scans = set(), [], []
        for eid in execs:
            for node, _, _ in _walk(self.plans.get(eid, {"nodeName": ""})):
                ids = tuple(sorted(m["accumulatorId"]
                                   for m in node.get("metrics", [])))
                if not ids or ids in seen:
                    continue
                seen.add(ids)
                if is_python_node(node["nodeName"]):
                    udf.append(node)
                elif any(m["name"] == "number of files read"
                         for m in node["metrics"]):
                    scans.append(node)
        f["udf.python_s"] = sum(self._seconds(n, "time to run Python workers")
                                for n in udf)
        f["udf.init_s"] = sum(
            self._seconds(n, "time to initialize Python workers")
            + self._seconds(n, "time to start Python workers") for n in udf)
        f["udf.mb_sent"] = sum(self.metric(n, "data sent to Python workers")
                               for n in udf) / MB
        f["udf.mb_received"] = sum(
            self.metric(n, "data returned from Python workers")
            for n in udf) / MB
        f["udf.rows"] = sum(self.metric(n, "number of output rows")
                            for n in udf)
        f["sources.scan_files"] = sum(self.metric(n, "number of files read")
                                      for n in scans)
        f["sources.scan_mb"] = sum(self.metric(n, "size of files read")
                                   for n in scans) / MB
        f["sources.scan_rows"] = sum(self.metric(n, "number of output rows")
                                     for n in scans)
        f.update(self._plan_facts(self.plans.get(execs[-1]) if execs else None))
        return f

    def _seconds(self, node, name: str) -> float:
        for m in node.get("metrics", []):
            if m["name"] == name:
                scale = 1e9 if m["metricType"] == "nsTiming" else 1e3
                return self.accum.get(m["accumulatorId"], 0) / scale
        return 0.0

    def _plan_facts(self, plan) -> dict:
        """Exact node counts and join/tile/salting row counts of the final
        plan of the query's materializing action."""
        f = {"plan.exchanges": 0, "plan.python_nodes": 0,
             "plan.broadcast_joins": 0, "plan.shuffle_joins": 0,
             "join.stream_terms": 0, "join.ref_terms": 0,
             "join.candidates": 0, "join.hits": 0,
             "tiles.cover_rows": 0, "salting.hot_cells": 0,
             "plan.nested_loop_rows": 0}
        if plan is None:
            return f
        parents = {}
        joins = []
        for node, parent, in_cache in _walk(plan):
            parents[id(node)] = parent
            name, text = node["nodeName"], node.get("simpleString", "")
            f["plan.exchanges"] += name in PLAN_EXCHANGES
            f["plan.python_nodes"] += is_python_node(name)
            f["plan.broadcast_joins"] += name in PLAN_BROADCAST_JOINS
            f["plan.shuffle_joins"] += name in PLAN_SHUFFLE_JOINS
            if name == "InMemoryTableScan" and "salt_factor" in text:
                # the broadcast salt map holds one row per hot cell term
                f["salting.hot_cells"] = max(
                    f["salting.hot_cells"],
                    self.metric(node, "number of output rows"))
            if in_cache:
                continue
            rows = self.metric(node, "number of output rows")
            if name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                # brute-force pairs, e.g. the knn phases with no cell hit
                f["plan.nested_loop_rows"] += rows
            if name == "Generate":
                if _STREAM_TERMS.search(text):
                    f["join.stream_terms"] += rows
                elif _REF_TERMS.search(text):
                    f["join.ref_terms"] += rows
                elif _TILE_CANDIDATES.search(text):
                    f["tiles.cover_rows"] += rows
            elif ((name in PLAN_BROADCAST_JOINS or name in PLAN_SHUFFLE_JOINS)
                  and ", Inner" in text and _TERM_JOIN_KEY.search(text)):
                joins.append(node)
        for j in joins:
            f["join.candidates"] += self.metric(j, "number of output rows")
            # a hit is a candidate that survives the refinement filters
            # right above the join (pair dedup + exact predicate)
            hits, up = None, parents[id(j)]
            while up is not None and up["nodeName"] in (
                    "Filter", "Project", "InputAdapter", "ColumnarToRow"):
                if up["nodeName"] == "Filter":
                    hits = self.metric(up, "number of output rows")
                up = parents[id(up)]
            f["join.hits"] += (self.metric(j, "number of output rows")
                               if hits is None else hits)
        f["join.hit_ratio"] = (f["join.hits"] / f["join.candidates"]
                               if f["join.candidates"] else 0.0)
        return f
