"""Spans recorded around engine calls, and Spark's event log folded onto them.

Every timed call runs under ``setJobDescription(<span>)``. After the traced
session stops, its event log (uncompressed JSON lines) is read back and each
task, SQL metric and broadcast is attributed to the span of the job that ran
it. Nothing is read from the engine's internals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

# SQL metric names of the Python-boundary nodes (MapInPandas, ArrowEvalPython)
PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_SQL = "org.apache.spark.sql.execution.ui."


class Spans:
    """Spans kept in memory, written out once at exit."""

    def __init__(self):
        self.items: list[dict] = []

    def run(self, spark, name: str, fn, parent: str | None = None, tag: bool = False):
        """Time ``fn()`` as span ``name``; with ``tag`` its jobs carry the
        span name as their description."""
        if tag:
            spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.items.append(
                {"name": name, "parent": parent, "start": t0, "end": time.perf_counter()}
            )
            if tag:
                spark.sparkContext.setJobDescription(None)

    def last(self) -> dict:
        return self.items[-1]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def _walk(node, out: list) -> list:
    out.append(node)
    for ch in node.get("children", []):
        _walk(ch, out)
    return out


def _first_rows_metric(node) -> int | None:
    """Accumulator id of the nearest ``number of output rows`` at or below
    ``node`` (the rows a Python node was fed)."""
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    for ch in node.get("children", []):
        r = _first_rows_metric(ch)
        if r is not None:
            return r
    return None


class EventLog:
    """Per-description sums over one application's event log."""

    def __init__(self, log_dir: str):
        # rolling layout: eventlog_v2_<app>/events_<n>_<app>
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
            key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
        )
        self.acc = {}                      # accumulator id -> (node, metric)
        self.py_rows_in = defaultdict(set)  # execution -> rows-fed acc ids
        self.bcast = defaultdict(set)      # execution -> broadcast size acc ids
        self.exec_desc = {}
        self.desc_rows_in = defaultdict(set)  # description -> rows-fed acc ids
        self.stage_desc = {}
        self.by_desc = defaultdict(lambda: defaultdict(float))
        self.stage_tasks = defaultdict(list)
        driver_updates = []
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), driver_updates)
        for ex, updates in driver_updates:
            d = self.exec_desc.get(ex)
            for acc_id, v in updates:
                if d is not None and acc_id in self.bcast[ex]:
                    self.by_desc[d]["broadcast_bytes"] += v

    def _plan(self, ex: int, plan: dict) -> None:
        for node in _walk(plan, []):
            for m in node.get("metrics", []):
                self.acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
                if node["nodeName"] == "BroadcastExchange" and m["name"] == "data size":
                    self.bcast[ex].add(m["accumulatorId"])
            if node["nodeName"] in ("MapInPandas", "MapInArrow", "ArrowEvalPython"):
                for ch in node.get("children", []):
                    r = _first_rows_metric(ch)
                    if r is not None:
                        self.py_rows_in[ex].add(r)

    def _event(self, e: dict, driver_updates: list) -> None:
        kind = e["Event"]
        if kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates.append((e["executionId"], e["accumUpdates"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description")
            if desc is None:
                return
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                self.exec_desc.setdefault(int(ex), desc)
                self.desc_rows_in[desc] |= self.py_rows_in[int(ex)]
            for s in e["Stage IDs"]:
                self.stage_desc.setdefault(s, desc)
        elif kind == "SparkListenerTaskEnd":
            desc = self.stage_desc.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if desc is None or not tm:
                return
            s = self.by_desc[desc]
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            s["tasks"] += 1
            s["run_ms"] += tm["Executor Run Time"]
            s["cpu_ms"] += tm["Executor CPU Time"] / 1e6
            s["gc_ms"] += tm["JVM GC Time"]
            s["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            s["fetch_wait_ms"] += sr["Fetch Wait Time"]
            s["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            s["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            self.stage_tasks[(desc, e["Stage ID"])].append(tm["Executor Run Time"])
            rows_in = self.desc_rows_in[desc]
            for a in e["Task Info"].get("Accumulables", []):
                meta = self.acc.get(a["ID"])
                if meta is None or "Update" not in a:
                    continue
                try:
                    v = float(a["Update"])
                except (TypeError, ValueError):
                    continue
                if meta[1] in PY_METRICS:
                    s["py." + PY_METRICS[meta[1]]] += v
                if a["ID"] in rows_in:
                    s["py.rows_in"] += v

    @staticmethod
    def _under(desc: str, prefix: str) -> bool:
        return desc == prefix or desc.startswith(prefix + "/")

    def totals(self, prefix: str) -> dict:
        """Sums over the description ``prefix`` and those under ``prefix/``."""
        out = defaultdict(float)
        for d, s in self.by_desc.items():
            if self._under(d, prefix):
                for k, v in s.items():
                    out[k] += v
        return out

    def skew(self, prefix: str) -> float:
        """max/median task run time of the busiest stage under ``prefix``."""
        stages = [t for (d, _), t in self.stage_tasks.items() if self._under(d, prefix) and len(t) > 1]
        if not stages:
            return 0.0
        busiest = max(stages, key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 0.0
