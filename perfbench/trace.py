"""Per-layer tracing for the spine benchmark.

``Tracer`` wraps ``StageRunner.run`` and the ``materialize_triples`` the
pipeline calls, from outside the program.  Each wrapped call records a
span (name, start, end, parent) and runs under a Spark job group named
after the span, so the Spark event log can attribute every task to the
layer that caused it.  ``layer_metrics`` joins the spans with the event
log and returns the per-layer numbers the traced run prints.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: StageRunner stage -> layer (module) that builds it
STAGE_LAYER = {
    "01_qa": "sources.qa",
    "02_links": "operators.linking",
    "03_doc_triples": "emitters.docstrings",
    "04_forum_triples": "emitters.forum",
    "05_flow_nodes": "operators.flows",
    "06_flow_triples": "emitters.analysis",
    "07_cc_mapping": "operators.canonicalize",
    "08_sameas_triples": "operators.canonicalize",
}
ROOT_LAYER = "plans.pipeline"
LAYERS = [*dict.fromkeys(STAGE_LAYER.values()), "materialize", ROOT_LAYER]
TASK_METRICS = ["tasks", "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"]
LAYER_METRICS = ["wall_s", "rows_out", *TASK_METRICS]


@dataclass
class Span:
    name: str  # "<layer>/<stage>", also the Spark job group id
    parent: str | None
    start: float
    end: float = 0.0
    rows_out: int = 0
    executed: bool = True

    @property
    def layer(self) -> str:
        return self.name.split("/", 1)[0]


class Tracer:
    """Span recorder; ``installed()`` patches the pipeline module for the
    duration of a ``with`` block."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent.name if parent else None, t0)
        self._stack.append(s)
        sc.setJobGroup(name, name)
        self.own_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                sc.setJobGroup(parent.name, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.own_s += time.perf_counter() - t1

    @contextmanager
    def installed(self):
        from graph4code_spark.plans import pipeline

        run, materialize = pipeline.StageRunner.run, pipeline.materialize_triples
        tracer = self

        def traced_run(runner, name, build, *args, **kwargs):
            with tracer.span(f"{STAGE_LAYER[name]}/{name}") as s:
                n_executed = len(runner.executed)
                df = run(runner, name, build, *args, **kwargs)
                s.executed = len(runner.executed) > n_executed
                s.rows_out = runner.manifest[name]["rows"]
            return df

        def traced_materialize(triples, out_path, *args, **kwargs):
            with tracer.span("materialize/triples") as s:
                metrics = materialize(triples, out_path, *args, **kwargs)
                s.rows_out = metrics["n_triples"]
            return metrics

        pipeline.StageRunner.run = traced_run
        pipeline.materialize_triples = traced_materialize
        try:
            yield self
        finally:
            pipeline.StageRunner.run = run
            pipeline.materialize_triples = materialize


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def read_task_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every event log in ``event_dir``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}
    paths = [
        os.path.join(root, fn)
        for root, _dirs, fns in os.walk(event_dir)
        for fn in fns
        if not fn.startswith((".", "appstatus"))
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut short while the log was written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc = out.setdefault(group, dict.fromkeys(TASK_METRICS, 0.0))
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    acc["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return out


def layer_metrics(spans: list[Span], by_group: dict[str, dict[str, float]]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer, plus the runner's own counters."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        acc = dict.fromkeys(LAYER_METRICS, 0.0)
        for s in mine:
            acc["wall_s"] += s.end - s.start
            acc["rows_out"] += s.rows_out
            for k, v in by_group.get(s.name, {}).items():
                acc[k] += v
        out.update({f"{layer}.{k}": v for k, v in acc.items()})
    roots = [s for s in spans if s.layer == ROOT_LAYER]
    builds = [s for s in spans if s.layer != ROOT_LAYER and s.executed]
    stages = [s for s in spans if s.layer in STAGE_LAYER.values()]
    out[f"{ROOT_LAYER}.stages_executed"] = sum(s.executed for s in stages) + sum(
        s.layer == "materialize" for s in spans
    )
    out[f"{ROOT_LAYER}.stages_resumed"] = sum(not s.executed for s in stages)
    out[f"{ROOT_LAYER}.self_s"] = sum(r.end - r.start for r in roots) - _covered(
        [(s.start, s.end) for s in builds]
    )
    return out
