"""Layer spans and Spark event-log statistics for the traced run.

The benchmark wraps each call it makes into a layer's public functions
in a span; in finance_monthly the calls are the ones ``run_pipeline``
makes itself, reached by wrapping the functions the pipeline module
imports and its stage runner. A layer span sets a Spark job group
``<run>|<pass>|<layer>|<phase>`` so every job it triggers can be found
again in the event log, where ``phase`` is ``construct`` (the call that
builds the DataFrame, with any eager jobs it runs) or ``execute``
(forcing the layer's output). Spans nest: jobs belong to the innermost
open span, and a span's time excludes the spans nested in it. Spans stay
in memory until the run ends.

The event log is written by Spark itself, uncompressed (rolling
``events_N`` files under ``eventlog_v2_<app>``), and parsed with the
standard ``json`` module into per-layer job, task, single-task-stage,
shuffle and spill figures. A *pass* is one unit of traced work: one
pipeline run and the forcing of its lazy layer outputs in
finance_monthly, one round over all queries in query_mix.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "sources.ingest",
    "operators.quality",
    "operators.fifo",
    "operators.balance",
    "analytics",
    "pipeline.sinks",
    "operators.textops",
    "operators.dedup",
    "operators.packing",
    "operators.similarity",
    "operators.sampling",
    "plans.tpch",
    "plans.events_queries",
    "plans.finance_queries",
    "plans.advanced",
)
MEASURES = {
    "construct_s": "s",
    "construct_jobs": "count",
    "execute_s": "s",
    "jobs": "count",
    "tasks": "count",
    "single_task_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
#: Spark conf that turns the event log on for the traced part of a run
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "true",
}


class Tracer:
    """Spans around layer calls; a layer span tags the Spark jobs it
    runs with its job group. Spans nest: an inner span's jobs carry the
    inner group, and a layer's time is its spans' time less that of the
    spans nested in them."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.pass_index = 0
        self._open: list[dict] = []

    @contextmanager
    def _span(self, name: str, group: str | None = None):
        parent = self._open[-1] if self._open else None
        span = {"id": len(self.spans), "name": name, "start": time.time(),
                "end": None, "nested_s": 0.0,
                "parent": parent["id"] if parent else None,
                "run": self.run_id, "pass": self.pass_index, "group": group}
        self.spans.append(span)
        self._open.append(span)
        if group:
            self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._open.pop()
            if parent:
                parent["nested_s"] += span["end"] - span["start"]
            if group:
                outer = next((s["group"] for s in reversed(self._open)
                              if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def op(self, name: str):
        """The span of one whole operation; layer spans nest inside."""
        return self._span(f"op:{name}")

    def layer(self, layer: str, phase: str):
        return self._span(f"{layer}.{phase}",
                          f"{self.run_id}|{self.pass_index}|{layer}|{phase}")

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under log_dir, in order
    (rolling ``events_<n>_<app>`` files are read by ascending n)."""
    def index(path: str) -> int:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=index)
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _pass_stats(events: list[dict], run_id: str) -> dict:
    """(pass, layer) -> job/task/stage figures from the event log."""
    group_of_job: dict[int, str] = {}
    job_of_stage: dict[int, int] = {}
    tasks_in_stage: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        group_of_job[ev["Job ID"]] = group
        # a stage a later job reuses (and skips) stays with the job
        # that ran it
        for sid in ev.get("Stage IDs", []):
            job_of_stage.setdefault(sid, ev["Job ID"])
        for info in ev.get("Stage Infos", []):
            tasks_in_stage.setdefault(info["Stage ID"],
                                      info["Number of Tasks"])

    out: dict = defaultdict(lambda: defaultdict(float))

    def key(group: str):
        run, _, rest = group.partition("|")
        if run != run_id:
            return None
        pass_index, layer, phase = rest.split("|")
        return (int(pass_index), layer), phase

    for job, group in group_of_job.items():
        k = key(group)
        if k:
            out[k[0]]["jobs"] += 1
            out[k[0]]["construct_jobs"] += k[1] == "construct"
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev["Stage ID"]
        k = key(group_of_job.get(job_of_stage.get(sid, -1), ""))
        if not k:
            continue
        m = ev.get("Task Metrics") or {}
        row = out[k[0]]
        row["tasks"] += 1
        if tasks_in_stage.get(sid) == 1:
            row["single_task_s"] += m.get("Executor Run Time", 0) / 1000.0
        row["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        row["bytes_written"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
    return out


def layer_metrics(events: list[dict], tracer: Tracer) -> dict:
    """Per-layer metrics: for each layer and measure, the median over
    traced passes of the pass total (0 where a pass never entered the
    layer), plus ``pipeline.sinks.bytes_written``."""
    stats = _pass_stats(events, tracer.run_id)
    for span in tracer.spans:
        layer, _, phase = span["name"].rpartition(".")
        if phase in ("construct", "execute"):
            stats[(span["pass"], layer)][f"{phase}_s"] += (
                span["end"] - span["start"] - span["nested_s"])
    passes = sorted({span["pass"] for span in tracer.spans})
    metrics = {}
    for layer in LAYERS:
        for measure, unit in MEASURES.items():
            vals = [stats.get((p, layer), {}).get(measure, 0.0)
                    for p in passes]
            metrics[f"{layer}.{measure}"] = (statistics.median(vals), unit)
    metrics["pipeline.sinks.bytes_written"] = (statistics.median(
        [stats.get((p, "pipeline.sinks"), {}).get("bytes_written", 0.0)
         for p in passes]), "bytes")
    return metrics
