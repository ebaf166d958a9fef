"""Spans around the benchmark's calls into each library layer, and the
Spark event-log parser that turns a traced session into per-layer
``spark.<layer>.*`` metrics.

A span records a layer, a step name and its wall interval. In a traced
session each span also sets the Spark job group ``<phase>:<layer>`` for
the calls it wraps, so every job, stage and task in the event log can be
attributed to the layer whose public function started it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    phase: str  # "warmup" or "rep"
    layer: str
    step: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.phase = "rep"
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, step: str):
        if self.traced:
            self.sc.setJobGroup(f"{self.phase}:{layer}", step)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(self.phase, layer, step, start, time.time()))
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


SPARK_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("driver_gap_s", "s"),
    ("failed_tasks", "count"),
)

MB = 1024.0 * 1024.0


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def spark_layer_metrics(event_log_path: str, spans: list[Span], layers: list[str]) -> dict:
    """Aggregate one session's event log per layer, over its "rep" spans.

    driver_gap_s is the layer's span wall time minus the part of it that
    some stage of the layer was running: time the driver spent planning,
    scheduling and waiting between stages. Warm-up jobs are attributed
    to the pseudo-layer "session".
    """
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    acc = {layer: {name: 0.0 for name, _ in SPARK_METRICS} for layer in layers}
    stage_spans: dict[str, list[tuple[float, float]]] = {layer: [] for layer in layers}

    def layer_of(group: str | None) -> str | None:
        if not group or ":" not in group:
            return None
        phase, layer = group.split(":", 1)
        layer = "session" if phase == "warmup" else layer
        return layer if layer in acc else None

    with open(event_log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = layer_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                if layer:
                    job_layer[ev["Job ID"]] = layer
                    acc[layer]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                layer = stage_layer.get(info["Stage ID"])
                if layer and "Submission Time" in info and "Completion Time" in info:
                    acc[layer]["stages"] += 1
                    stage_spans[layer].append(
                        (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"])
                if not layer:
                    continue
                a = acc[layer]
                a["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB

    for layer in layers:
        own = [s for s in spans if (("session" if s.phase == "warmup" else s.layer) == layer)]
        covered = 0.0
        for s in own:
            inside = [
                (max(a, s.start), min(b, s.end)) for a, b in stage_spans[layer]
                if b > s.start and a < s.end
            ]
            covered += _union_seconds(inside)
        acc[layer]["driver_gap_s"] = max(0.0, sum(s.seconds for s in own) - covered)
    return acc
