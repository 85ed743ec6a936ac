"""Span tracer for the traced run, and the Spark event-log parser that
attributes engine counts to spans.

Spark is lazy, so a traced call into a layer times the call PLUS one
materialization (persist + count) of the DataFrame(s) it returns; the next
layer then consumes the materialized frame. Before each span's work the
tracer sets a Spark job group named after the span, so every job, stage and
task in the event log maps back to exactly one span. Spans are kept in
memory and reported when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

LAYER_SPANS = (
    "session.start",
    "sources.vcf.read",
    "sources.bed.read",
    "sources.reads.read",
    "sources.tables.read",
    "sources.vcf.write",
    "operators.interval_join",
    "pipelines.evaluate_concordance",
    "operators.pileup",
    "pipelines.coverage.summary",
    "pipelines.coverage.bins",
    "operators.kernels.gvcf",
    "pipelines.results.upsert",
    "pipelines.results.read_latest",
    "operators.dedup.shingles",
    "operators.dedup.signatures",
    "operators.dedup.candidates",
    "operators.dedup.verify",
)
ENGINE_COUNTS = ("stages", "shuffle_write_mb", "spill_mb", "gc_s", "tasks_retried")


class Tracer:
    """Traced context for ``workloads``: ``call`` opens a span, runs the
    layer call, materializes its result and closes the span."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.iteration = None

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iter": self.iteration,
            "rows": 0,
            "start": time.perf_counter(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.spark.sparkContext.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.spark.sparkContext.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.spark.sparkContext.setJobGroup("untraced", "untraced")

    def call(self, name, fn, *args, **kwargs):
        with self.span(name) as sp:
            out = fn(*args, **kwargs)
            frames = out.values() if isinstance(out, dict) else [out]
            for df in frames:
                if isinstance(df, DataFrame):
                    df.persist(StorageLevel.MEMORY_AND_DISK)
                    sp["rows"] += df.count()
        return out

    @contextmanager
    def wrapped(self, nested_calls):
        """Route the package's own calls into another layer through
        ``call`` (module attribute swap, restored on exit)."""
        saved = []
        for mod, attr, name in nested_calls:
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, lambda *a, _o=orig, _n=name, **k: self.call(_n, _o, *a, **k))
        try:
            yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Engine counts per job group from a Spark JSON event log: completed
    stages, shuffle bytes written, disk spill, summed task GC time, task
    retries (attempt > 0 or speculative) and input bytes read."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "none")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    out[stage_group.get(info["Stage ID"], "none")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "none")]
                tm = ev.get("Task Metrics") or {}
                c["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                ti = ev.get("Task Info", {})
                if ti.get("Attempt", 0) > 0 or ti.get("Speculative", False):
                    c["tasks_retried"] += 1
    return out


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def layer_metrics(spans: list[dict], engine: dict, extras: dict) -> dict[str, float]:
    """Per-layer metrics: per span name, the median over traced iterations
    of its per-iteration self time, and the per-iteration mean of each
    engine count. ``session.start`` occurs once, outside iterations."""
    children = defaultdict(list)
    for sp in spans:
        if sp["parent"]:
            children[sp["parent"]].append(sp)
    per_iter: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    iters = sorted({sp["iter"] for sp in spans if sp["iter"] is not None})
    for sp in spans:
        key = (sp["name"], sp["iter"])
        per_iter[key]["self_s"] += self_time(sp, children[sp["id"]])
        for k in ENGINE_COUNTS:
            per_iter[key][k] += engine.get(sp["id"], {}).get(k, 0.0)
    metrics = {}
    for name in LAYER_SPANS:
        rows = [per_iter[(name, i)] for i in ([None] if name == "session.start" else iters)
                if (name, i) in per_iter]
        for k in ("self_s", *ENGINE_COUNTS):
            vals = [r[k] for r in rows]
            if k == "self_s":
                v = statistics.median(vals) if vals else 0.0
            else:
                v = sum(vals) / len(vals) if vals else 0.0
            metrics[f"{name}.{k}"] = v
    metrics.update(extras)
    return metrics


def span_medians(spans: list[dict], name: str, field: str = "rows") -> tuple[float, float]:
    """(median of ``field``, median duration) over the spans called ``name``
    in traced iterations (summed per iteration)."""
    per = defaultdict(lambda: [0.0, 0.0])
    for sp in spans:
        if sp["name"] == name and sp["iter"] is not None:
            per[sp["iter"]][0] += sp[field]
            per[sp["iter"]][1] += sp["end"] - sp["start"]
    if not per:
        return 0.0, 0.0
    return (
        statistics.median(v[0] for v in per.values()),
        statistics.median(v[1] for v in per.values()),
    )
