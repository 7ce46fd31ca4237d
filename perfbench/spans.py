"""Spans around layer calls, and per-layer aggregation of Spark's event log.

A ``Tracer`` records one span per public layer call the benchmark makes:
name, start, end, parent span and the op id shared by all spans of one
op. With tracing on, each span also sets a Spark job group named after
the span, so the event log's stages can be attributed to it. Spans stay
in memory; the traced run aggregates them at the end.

With tracing off, ``Tracer.layer`` records nothing, sets no job group and
``Span.materialize`` runs no Spark action, so the untraced run executes
only the library's own jobs.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

# the layers the benchmark calls, in pipeline order; per-layer metric
# names are "<layer>.<suffix>"
LAYERS = (
    "bands.with_signatures",
    "bands.band_table",
    "pairs.candidate_pairs",
    "verify.verify_pairs",
    "components.connected_components",
    "incremental.process_batch",
    "forest_vote.forest_vote_scores",
    "forest_vote.get_top_k",
    "plaid.build_centroids",
    "plaid.plaid_topk",
)
SESSION_LAYER = "session.get_spark"
SUFFIXES = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s", "py_s": "s",
    "shuffle_mb": "MB", "jobs": "count", "rows_out": "count", "gap_s": "s",
    "failed_tasks": "count",
}
OP_SPAN = "op"
SETUP_SPAN = "setup"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op_id: int | None
    idx: int
    end: float = 0.0
    rows_out: int = 0
    tracer: "Tracer | None" = None

    @property
    def group(self) -> str:
        return f"{self.name}#{self.idx}"

    def materialize(self, df):
        """Persist and count ``df`` inside the span, so the layer's own
        work runs under its job group; the tracer unpersists it at
        ``release``. With tracing off, returns ``df`` untouched."""
        if self.tracer is None:
            return df
        df = df.persist()
        self.rows_out += df.count()
        self.tracer.persisted.append(df)
        return df


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.persisted: list = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.group)

    @contextmanager
    def layer(self, name: str, op_id: int | None = None):
        """Span around one call. ``op_id`` starts a new op (root span)."""
        if not self.enabled:
            yield Span(name, 0.0, None, None, -1)
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        span = Span(name, time.time(), parent.idx if parent else None, op_id,
                    len(self.spans), tracer=self)
        self.spans.append(span)
        self._stack.append(span)
        if self.spark is not None:
            self._set_group(span)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            if self.spark is not None:
                self._set_group(self._stack[-1] if self._stack else None)

    def release(self) -> None:
        """Unpersist what ``Span.materialize`` cached (blocking)."""
        for df in self.persisted:
            df.unpersist(blocking=True)
        self.persisted.clear()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = [(max(c.start, span.start), min(c.end, span.end)) for c in spans
            if c.parent == span.idx]
    return (span.end - span.start) - union_length(
        (s, e) for s, e in kids if e > s)


def parse_event_log(path: Path) -> dict:
    """Stage records of one Spark event log, grouped by job group.

    Returns ``{group: {"jobs": n, "stages": [...]}}``; each stage holds
    its submission/completion interval (epoch seconds), executor run and
    CPU time (s), shuffle bytes read plus written, and failed task count.
    Jobs without a group are filed under ``None``."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "interval": None, "task_s": 0.0, "cpu_s": 0.0,
            "shuffle_bytes": 0, "failed_tasks": 0})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups.setdefault(group, {"jobs": 0, "stages": []})["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                st["shuffle_bytes"] += (rd.get("Remote Bytes Read", 0)
                                        + rd.get("Local Bytes Read", 0)
                                        + wr.get("Shuffle Bytes Written", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if sub is not None and done is not None:
                    stage(info["Stage ID"])["interval"] = (sub / 1e3, done / 1e3)
    for sid, st in sorted(stages.items()):
        group = stage_group.get(sid)
        groups.setdefault(group, {"jobs": 0, "stages": []})["stages"].append(st)
    return groups


def layer_metrics(spans: list[Span], groups: dict) -> dict[str, float]:
    """Per-layer sums over ``spans`` of the metrics in ``SUFFIXES``.

    ``gap_s`` is span wall minus the union of its own stages' intervals:
    driver-side time of the layer, spent outside its stages."""
    out = {f"{layer}.{sfx}": 0.0 for layer in LAYERS for sfx in SUFFIXES}
    for sp in spans:
        if sp.name not in LAYERS:
            continue
        g = groups.get(sp.group, {"jobs": 0, "stages": []})
        sts = g["stages"]
        wall = sp.end - sp.start
        covered = union_length(
            (max(s, sp.start), min(e, sp.end))
            for s, e in (st["interval"] for st in sts if st["interval"])
            if min(e, sp.end) > max(s, sp.start))
        task = sum(st["task_s"] for st in sts)
        cpu = sum(st["cpu_s"] for st in sts)
        pre = sp.name + "."
        out[pre + "wall_s"] += wall
        out[pre + "task_s"] += task
        out[pre + "cpu_s"] += cpu
        # CPU time is sampled in ns, run time in ms: clamp rounding below 0
        out[pre + "py_s"] += max(task - cpu, 0.0)
        out[pre + "shuffle_mb"] += sum(st["shuffle_bytes"] for st in sts) / 2**20
        out[pre + "jobs"] += g["jobs"]
        out[pre + "rows_out"] += sp.rows_out
        out[pre + "gap_s"] += wall - covered
        out[pre + "failed_tasks"] += sum(st["failed_tasks"] for st in sts)
    return out


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples, min_beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile of ``TAIL_LADDER`` with
    at least ``min_beyond`` samples strictly above its value. ``(0.0, 0.0)``
    when even the median lacks that many samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for pct in TAIL_LADDER:
        if not n:
            break
        # nearest-rank percentile
        value = xs[max(1, math.ceil(round(pct * n / 100, 9))) - 1]
        if sum(1 for x in xs if x > value) >= min_beyond:
            return pct, value
    return 0.0, 0.0
