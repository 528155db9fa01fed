"""Spans around layer calls, and the Spark figures of each span.

A span is opened by the benchmark around one call into an engine layer
(``spandex_spark`` module). While it is open, every Spark job the call
submits runs under a job group named after the span, so the figures of
those jobs can be read back from Spark's own status store once the run
ends: task CPU and GC time, shuffle and spill bytes, task count and task
skew (slowest task / median task), and the SQL plan metrics of the
queries the jobs belonged to.

Spans nest: a span opened while another is open records it as parent,
and the parent's self time excludes its children. Spans are kept in
memory and handed out by ``Tracer.spans()`` when the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Collects the spans of one traced run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self._spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Span around one call into layer ``name``."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "id": len(self._spans),
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "group": f"{self.run_id}:{name}:{len(self._spans)}"}
        self._spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def spans(self) -> list[dict]:
        return [dict(s) for s in self._spans]

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self._spans
                   if s["parent"] == rec["id"])
        return (rec["end"] - rec["start"]) - kids


class StatusReader:
    """Reads job, stage, task and SQL-plan figures from the live status
    store of the running SparkContext (works with the web UI off)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_by_group(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for j in self._json(self._store.jobsList(None)):
            if j.get("jobGroup"):
                out.setdefault(j["jobGroup"], []).append(j)
        return out

    def stage_figures(self, jobs: list[dict]) -> dict:
        """Sums over every stage that ran for ``jobs`` (skipped stages and
        stages shared between jobs are counted once)."""
        fig = dict(cpu_s=0.0, gc_s=0.0, run_s=0.0, shuffle_bytes=0,
                   spill_bytes=0, input_bytes=0, tasks=0, task_skew=0.0)
        durations: list[float] = []
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._json(self._store.lastStageAttempt(sid))
                except Exception:  # noqa: BLE001 - never-submitted stage
                    continue
                if st["status"] == "SKIPPED" or st["numCompleteTasks"] == 0:
                    continue
                fig["cpu_s"] += st["executorCpuTime"] / 1e9
                fig["gc_s"] += st["jvmGcTime"] / 1e3
                fig["run_s"] += st["executorRunTime"] / 1e3
                fig["shuffle_bytes"] += st["shuffleWriteBytes"]
                fig["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                fig["input_bytes"] += st["inputBytes"]
                fig["tasks"] += st["numCompleteTasks"]
                tasks = self._json(self._store.taskList(sid, st["attemptId"], 1 << 20))
                durations += [t["duration"] for t in tasks
                              if t.get("duration") is not None]
        if durations:
            med = statistics.median(durations)
            fig["task_skew"] = max(durations) / med if med > 0 else 1.0
        return fig

    def plan_metrics(self, jobs: list[dict]) -> list[tuple[str, str, str, str]]:
        """(node name, node description, metric name, value) for every plan
        node of the SQL executions that ran ``jobs``."""
        job_ids = {str(j["jobId"]) for j in jobs}
        out = []
        for ex in self._json(self._sql.executionsList()):
            if not job_ids & set(ex["jobs"].keys()):
                continue
            eid = ex["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(str(metric.accumulatorId()))
                    if v is not None:
                        out.append((node.name(), node.desc(), metric.name(), v))
        return out


def count_value(text: str) -> int:
    """A SUM-type SQL metric as printed by Spark ('1,234')."""
    return int(text.replace(",", ""))


def rows_out(metrics, node_re: str, desc_re: str) -> list[int]:
    """'number of output rows' of each plan node whose name matches
    ``node_re`` and whose description matches ``desc_re``."""
    nre, dre = re.compile(node_re), re.compile(desc_re)
    return [count_value(v) for name, desc, metric, v in metrics
            if metric == "number of output rows"
            and nre.search(name) and dre.search(desc)]
