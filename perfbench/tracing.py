"""Spans around the public calls, and Spark's SQL metrics per span.

A span is ``{id, name, start, end, parent, run_id}`` kept in memory and
written out when the run ends. While a span is open the Spark job
description names it, so every SQL execution started inside it is
attributed to it exactly; an execution with any other description is
attributed by its submission time to the innermost span open then.
Per-execution numbers come from Spark's own status store
(``sharedState().statusStore()``), which is populated with the UI off.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

_PREFIX = "perfbench:"

# SQL metric name -> the per-span field it is summed into.
_SQL_FIELDS = {
    "time to run Python workers": "python_s",
    "time to initialize Python workers": "python_init_s",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number in base units
    (seconds, bytes, or a plain count). Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its children (overlapping children are counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """In-memory span recorder for one run. ``python=True`` marks a
    span whose layer runs Python UDF work; if Spark attributes no
    Python-worker time to it, the span is flagged, since that work
    then ran where the SQL metrics do not see it (for instance inside
    a lazily localCheckpoint'ed RDD)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._after = last_execution_id(spark)

    @contextmanager
    def span(self, name: str, python: bool = False):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "python": python, "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc.setJobDescription(f"{_PREFIX}{self.run_id}:{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(prev)

    def finish(self) -> list[dict]:
        """Attach SQL metrics and self time to every span."""
        for s in self.spans:
            s.update({f: 0.0 for f in _SQL_FIELDS.values()},
                     executions=0)
        by_id = {s["id"]: s for s in self.spans}
        for ex in executions(self.spark, self._after):
            s = by_id.get(self._owner(ex))
            if s is None:
                continue
            s["executions"] += 1
            for f in _SQL_FIELDS.values():
                s[f] += ex[f]
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
            s["dur_s"] = s["end"] - s["start"]
            s["hidden_python"] = bool(s["python"] and s["python_s"] == 0)
        return self.spans

    def _owner(self, ex: dict) -> int | None:
        tag = f"{_PREFIX}{self.run_id}:"
        if ex["description"].startswith(tag):
            return int(ex["description"][len(tag):])
        owner = None
        for s in self.spans:  # innermost = latest-opened containing span
            if s["start"] <= ex["submitted"] <= (s["end"] or time.time()):
                owner = s["id"]
        return owner


def last_execution_id(spark) -> int:
    found = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((found.apply(i).executionId() for i in range(found.size())),
               default=-1)


def executions(spark, after: int = -1) -> list[dict]:
    """SQL executions with an id above ``after``, metrics summed."""
    store = spark._jsparkSession.sharedState().statusStore()
    found = store.executionsList()
    out = []
    for i in range(found.size()):
        ex = found.apply(i)
        if ex.executionId() <= after:
            continue
        values = store.executionMetrics(ex.executionId())
        rec = {f: 0.0 for f in _SQL_FIELDS.values()}
        plan_metrics = ex.metrics()
        for j in range(plan_metrics.size()):
            pm = plan_metrics.apply(j)
            field = _SQL_FIELDS.get(pm.name())
            if field is None:
                continue
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                rec[field] += parse_metric(v.get())
        rec["description"] = ex.description() or ""
        rec["submitted"] = ex.submissionTime() / 1000.0
        out.append(rec)
    return out


def failed_tasks(spark) -> int:
    """Failed task attempts over the jobs the session still retains."""
    tracker = spark.sparkContext.statusTracker()
    stages = {
        sid
        for job in tracker.getJobIdsForGroup(None)
        for sid in (getattr(tracker.getJobInfo(job), "stageIds", None) or [])
    }
    infos = (tracker.getStageInfo(sid) for sid in stages)
    return sum(i.numFailedTasks for i in infos if i is not None)
