"""Per-layer metrics from a Spark event log and the benchmark's own spans.

The traced run gives every call into a layer its own job group,
``"<iteration>:<layer>"``, and records a span (layer, start, end, parent)
around it in the benchmark's code.  Spark writes the event log
uncompressed and unrolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``), one JSON event per line.  This
module joins the two:

* jobs and tasks map to a layer through ``spark.jobGroup.id``;
* task metrics (run and CPU time, GC, shuffle fetch wait and write,
  spill) and the Python SQL metrics (``time to run Python workers``,
  ``data sent to Python workers``) sum per layer;
* SQL-node ``number of output rows`` give the waste ratios, with node
  names taken from the plan trees of the SQL execution events;
* span time not covered by any running task is ``driver_only_s``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

#: per-layer fields, in print order; all are sums over one iteration
FIELDS = (
    "self_s", "driver_only_s", "jobs", "tasks", "task_cpu_s", "task_run_s",
    "fetch_wait_s", "gc_s", "shuffle_write_mb", "spill_mb", "python_s",
    "python_in_mb",
)
#: event-log counts behind the waste ratios, also summed per layer
COUNTERS = ("shuffle_write_rows", "inner_join_rows", "halo_rows")


@dataclass
class Span:
    layer: str
    iteration: str
    start: float  # epoch seconds
    end: float
    parent: "Span | None" = None

    @property
    def group(self) -> str:
        return f"{self.iteration}:{self.layer}"


@dataclass
class _Task:
    launch: float  # epoch seconds
    finish: float
    counters: dict = field(default_factory=dict)


def _intervals_minus(base, holes):
    """Total length of the union of *base* intervals minus *holes*."""
    total = 0.0
    holes = sorted(holes)
    for b0, b1 in base:
        cur = b0
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b1:
                continue
            if h0 > cur:
                total += h0 - cur
            cur = max(cur, h1)
            if cur >= b1:
                break
        if cur < b1:
            total += b1 - cur
    return total


def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


class EventLog:
    """Tasks grouped by job group, plus SQL node names by accumulator id."""

    def __init__(self, path: str):
        self.group_jobs: dict[str, int] = defaultdict(int)
        self.group_tasks: dict[str, list[_Task]] = defaultdict(list)
        self.node_of_acc: dict[int, tuple[str, str, str, str]] = {}
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    self.group_jobs[group] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None and ev.get("Task Metrics"):
                        self.group_tasks[group].append(self._task(ev))
                elif kind in (SQL_START, SQL_AQE_UPDATE):
                    self._index_plan(ev["sparkPlanInfo"])

    def _index_plan(self, node) -> None:
        for m in node.get("metrics", ()):
            self.node_of_acc[m["accumulatorId"]] = (
                node["nodeName"], node.get("simpleString", ""), m["name"], m["metricType"],
            )
        for child in node.get("children", ()):
            self._index_plan(child)

    def _task(self, ev) -> _Task:
        info, tm = ev["Task Info"], ev["Task Metrics"]
        c = {
            "task_cpu_s": tm["Executor CPU Time"] / 1e9,
            "task_run_s": tm["Executor Run Time"] / 1e3,
            "gc_s": tm["JVM GC Time"] / 1e3,
            "fetch_wait_s": tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3,
            "shuffle_write_mb": tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6,
            "shuffle_write_rows": tm["Shuffle Write Metrics"]["Shuffle Records Written"],
            "spill_mb": tm["Disk Bytes Spilled"] / 1e6,
            "python_s": 0.0,
            "python_in_mb": 0.0,
            "inner_join_rows": 0,
            "halo_rows": 0,
        }
        for acc in info.get("Accumulables", ()):
            update = acc.get("Update")
            if update is None:
                continue
            node = self.node_of_acc.get(acc["ID"])
            name = acc.get("Name", "")
            if name == "time to run Python workers":
                c["python_s"] += float(update) / 1e3  # a "timing" metric: ms
            elif name == "data sent to Python workers":
                c["python_in_mb"] += float(update) / 1e6
            elif name == "number of output rows" and node is not None:
                node_name, simple = node[0], node[1]
                if node_name.endswith("Join") and (", Inner," in simple or "Cross" in simple):
                    c["inner_join_rows"] += int(float(update))
                elif node_name == "Generate" and "__iy" in simple:
                    c["halo_rows"] += int(float(update))
        return _Task(info["Launch Time"] / 1e3, info["Finish Time"] / 1e3, c)

    # -- per-layer aggregation ----------------------------------------------

    def layer_metrics(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """``{layer: {field: value}}`` for ONE iteration's spans.

        ``session`` is the iteration's root span; its fields are totals
        over every layer (its ``self_s`` is the iteration's wall time).
        Each other layer's ``self_s`` is its spans' time minus the time of
        spans nested inside them; ``driver_only_s`` is that self time
        during which no task of the application was running.
        """
        all_tasks = [t for ts in self.group_tasks.values() for t in ts]
        busy = _union([(t.launch, t.finish) for t in all_tasks])
        by_layer: dict[str, dict[str, float]] = {}
        children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[id(s.parent)].append(s)
        for s in spans:
            row = by_layer.setdefault(s.layer, dict.fromkeys(FIELDS + COUNTERS, 0.0))
            kids = [] if s.layer == "session" else children[id(s)]
            holes = [(k.start, k.end) for k in kids]
            row["self_s"] += (s.end - s.start) - sum(b - a for a, b in holes)
            row["driver_only_s"] += _intervals_minus(
                [(s.start, s.end)], holes + [tuple(iv) for iv in busy]
            )
        seen = set()
        for s in spans:
            groups = (
                [g for g in self.group_tasks.keys() | self.group_jobs.keys()
                 if g.startswith(f"{s.iteration}:")]
                if s.layer == "session" else [s.group]
            )
            for g in groups:
                if (s.layer, g) in seen:
                    continue
                seen.add((s.layer, g))
                row = by_layer[s.layer]
                row["jobs"] += self.group_jobs.get(g, 0)
                for t in self.group_tasks.get(g, ()):
                    row["tasks"] += 1
                    for k, v in t.counters.items():
                        row[k] += v
        return by_layer


def median_rows(rows: list[dict[str, dict[str, float]]]) -> dict[str, dict[str, float]]:
    """Field-wise median over iterations of :meth:`EventLog.layer_metrics`."""
    out: dict[str, dict[str, float]] = {}
    for layer in {name for r in rows for name in r}:
        keys = {k for r in rows if layer in r for k in r[layer]}
        out[layer] = {
            k: statistics.median(r[layer][k] if layer in r else 0.0 for r in rows)
            for k in keys
        }
    return out
