"""Spans around calls into the engine's layers, and the Spark work each
span caused, read from Spark's own status stores.

A span is recorded by the benchmark around a public call (``get_spark``,
``CheckSuite.verdicts``, ``CheckpointedRunner.run`` ...). With tracing on,
the collector drains, after each top-level span, the jobs and stages the
application status store (``SparkContext.statusStore()``) and the SQL
executions the SQL status store (``sharedState().statusStore()``) gained
since the last drain. Spark work is attributed to a span by *submission
time* falling inside the span's wall-clock window, not by job group:
``CheckSuite`` runs pass A and pass B from a ``ThreadPoolExecutor``, and a
job group set on the calling thread does not reach those threads.

Everything stays in memory until ``write``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def holds(self, t_ms: float) -> bool:
        return self.start_ms <= t_ms <= self.end_ms


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _number(text: str) -> float:
    """A SQL metric value as Spark prints it ('1.7 s', '174 ms',
    '235.2 KiB', '2,000,000') in seconds, bytes or units."""
    parts = text.strip().split(" ")
    scale = _UNITS[parts[1]] if len(parts) > 1 and parts[1] in _UNITS else 1.0
    return float(parts[0].replace(",", "")) * scale


def _metrics(lines: list[str]) -> dict[str, float]:
    """Metric lines of one plan-graph node: 'name: value', or
    'name total (min, med, max (...))' followed by a 'value (...)' line."""
    out: dict[str, float] = {}
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if line.endswith("(stageId: taskId))") and " total (" in line and i + 1 < len(lines):
            out[line.split(" total (")[0]] = _number(lines[i + 1].split(" (")[0])
            i += 2
            continue
        name, sep, value = line.rpartition(": ")
        if sep:
            try:
                out[name] = _number(value)
            except (ValueError, IndexError):
                pass
        i += 1
    return out


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(?:<br>)?<b>([^<]+)</b>(.*?)" tooltip="(.*)"\];$')
_CLUSTER_LABEL = re.compile(r'^\s*label="(WholeStageCodegen[^"]*)";$')
_EDGE = re.compile(r"^\s*(\d+)->(\d+);$")

# SQL operator families; Window has no timer in Spark 4.1, so window time
# is the sort that feeds it
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "PythonUDTF")


def sql_families(dot: str) -> dict[str, float]:
    """Operator time and exchange bytes of one SQL execution, summed by
    node family from its plan graph (``SparkPlanGraph.makeDotFile`` with
    the execution's final metric values)."""
    nodes: dict[str, tuple[str, dict]] = {}
    clusters: list[tuple[float, list[str]]] = []
    edges: list[tuple[str, str]] = []
    cur: list[str] | None = None
    for line in dot.splitlines():
        m = _NODE.match(line)
        if m:
            nodes[m.group(1)] = (m.group(2).split(" ")[0], _metrics(m.group(3).split("<br>")))
            if cur is not None:
                cur.append(m.group(1))
            continue
        m = _CLUSTER_LABEL.match(line)
        if m:
            cur = []
            clusters.append((_metrics(m.group(1).split("\\n")[1:]).get("duration", 0.0), cur))
            continue
        m = _EDGE.match(line)
        if m:
            edges.append((m.group(1), m.group(2)))
        elif line.strip() == "}":
            cur = None

    def total(metric: str, families: tuple[str, ...] | None = None, ids=None) -> float:
        return sum(
            ms.get(metric, 0.0)
            for nid, (fam, ms) in nodes.items()
            if (families is None or fam in families) and (ids is None or nid in ids)
        )

    feeds_window = {a for a, b in edges if nodes.get(b, ("",))[0] == "Window"}
    feeds_window |= {b for a, b in edges if nodes.get(a, ("",))[0] == "Window"}
    filter_project = 0.0
    for duration, ids in clusters:
        if any(nodes[i][0] in ("Filter", "Project") for i in ids if i in nodes):
            own = total("scan time", ids=ids) + total("time in aggregation build", ids=ids) + total("sort time", ids=ids)
            filter_project += max(0.0, duration - own)
    return {
        "sql.scan_s": total("scan time", ("Scan",)),
        "sql.filter_project_s": filter_project,
        "sql.agg_s": total("time in aggregation build"),
        "sql.window_s": total("sort time", ("Sort",), ids=feeds_window),
        "sql.exchange_bytes": total("shuffle bytes written", ("Exchange",)),
        "sql.python_s": total("time to run Python workers", PYTHON_NODES),
    }


class Collector:
    """Spans, plus (when bound to a session with tracing on) the Spark
    jobs, stages and SQL executions drained from the status stores."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.sql: list[dict] = []
        self._spark = None
        self._last_job = -1
        self._last_sql = 0
        self._open: list[Span] = []

    def bind(self, spark) -> None:
        self._spark = spark if self.trace else None

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            name,
            time.time() * 1000.0,
            parent=self._open[-1].name if self._open else None,
            attrs=attrs,
        )
        self._open.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.end_ms = time.time() * 1000.0
            self._open.pop()
            self.spans.append(s)
            if self._spark is not None and not self._open:
                self.drain()

    # -- status stores -----------------------------------------------------
    def drain(self) -> None:
        """Copy what the stores gained since the last drain into memory.
        The listener bus is asynchronous, so wait for it to empty first."""
        spark = self._spark
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        fresh = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            sub, done = j.submissionTime(), j.completionTime()
            stage_ids = j.stageIds()
            fresh.append({
                "id": j.jobId(),
                "submit_ms": float(sub.get().getTime()) if sub.isDefined() else None,
                "end_ms": float(done.get().getTime()) if done.isDefined() else None,
                "stages": [stage_ids.apply(k) for k in range(stage_ids.size())],
                "status": j.status().toString(),
            })
        for job in reversed(fresh):
            self._last_job = max(self._last_job, job["id"])
            self.jobs.append(job)
            for sid in job["stages"]:
                if sid in self.stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted, or evicted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                sub = st.submissionTime()
                self.stages[sid] = {
                    "submit_ms": float(sub.get().getTime()) if sub.isDefined() else job["submit_ms"],
                    "tasks": st.numCompleteTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "output_bytes": st.outputBytes(),
                }
        sql = spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        if n > self._last_sql:
            execs = sql.executionsList(self._last_sql, n - self._last_sql)
            for i in range(execs.size()):
                e = execs.apply(i)
                eid = e.executionId()
                done = e.completionTime()
                dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
                self.sql.append({
                    "id": eid,
                    "submit_ms": float(e.submissionTime()),
                    "end_ms": float(done.get().getTime()) if done.isDefined() else None,
                    "writes": re.findall(r"InsertIntoHadoopFsRelationCommand ([^,]+),", dot),
                    **sql_families(dot),
                })
            self._last_sql = n

    # -- attribution -------------------------------------------------------
    def spark_metrics(self, span: Span) -> dict[str, float]:
        """Spark work submitted inside ``span``: job/stage counts, stage
        totals, SQL operator families, and the driver-only time (the span's
        wall time during which none of its jobs was running)."""
        jobs = [j for j in self.jobs if j["submit_ms"] is not None and span.holds(j["submit_ms"])]
        stages = [s for s in self.stages.values() if span.holds(s["submit_ms"])]
        execs = [e for e in self.sql if span.holds(e["submit_ms"])]
        # driver-only time: wall time not covered by any running job
        busy, last = 0.0, span.start_ms
        for a, b in sorted((j["submit_ms"], j["end_ms"] or span.end_ms) for j in jobs):
            a, b = max(a, last), min(b, span.end_ms)
            if b > a:
                busy += b - a
                last = b
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": sum(s["run_s"] for s in stages),
            "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
            "spark.gc_s": sum(s["gc_s"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "spark.output_bytes": sum(s["output_bytes"] for s in stages),
            "driver_s": max(0.0, span.seconds - busy / 1000.0),
        }
        for key in ("sql.scan_s", "sql.filter_project_s", "sql.agg_s", "sql.window_s",
                    "sql.exchange_bytes", "sql.python_s"):
            out[key] = sum(e[key] for e in execs)
        return out

    def sql_seconds(self, span: Span, path_part: str) -> float:
        """Wall time of the SQL executions inside ``span`` that write to a
        path containing ``path_part``."""
        return sum(
            ((e["end_ms"] or span.end_ms) - e["submit_ms"]) / 1000.0
            for e in self.sql
            if span.holds(e["submit_ms"]) and any(path_part in w for w in e["writes"])
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": s.name, "parent": s.parent, "start_ms": s.start_ms,
                                    "end_ms": s.end_ms, **s.attrs}) + "\n")
            for j in self.jobs:
                f.write(json.dumps({"job": j}) + "\n")
            for sid, st in sorted(self.stages.items()):
                f.write(json.dumps({"stage": sid, **st}) + "\n")
            for e in self.sql:
                f.write(json.dumps({"sql": e}) + "\n")
