"""Tracing for the benchmark's traced runs.

* ``Tracer`` records spans (name, start, end, parent, run id) in
  memory; ``self_times`` subtracts the part of each span its children
  cover.
* ``instrument`` wraps the public functions of the ``kgp`` modules the
  shipped jobs call, from the outside: the program itself is not
  changed, and untraced runs never call ``instrument``.
* While a span is open on the main thread, the Spark jobs it launches
  carry the span id as their job group. ``fold_event_log`` reads the
  uncompressed Spark event log with stdlib ``json`` and sums task
  metrics per job group, so each span gets executor time, shuffle and
  spill bytes, peak execution memory and task skew.
"""

from __future__ import annotations

import importlib
import itertools
import json
import statistics
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from kgbench.stats import now

# StageRunner stage name -> the kgp module doing that stage's work
STAGE_LAYER = {
    "docs": "segment",
    "mentions": "ner",
    "capped": "triples",
    "triples": "triples",
    "entities": "triples",
    "filtered": "textstats",
    "deduped": "dedup",
    "split": "sampling",
}

# kgp module -> public functions the shipped jobs reach. Most build
# lazy plans, so their own spans are short; the Spark work runs inside
# the enclosing stage span and is attributed to its layer.
WRAPPED = {
    "kgp.checkpoint": ["build_kg_pipeline", "build_training_pipeline"],
    "kgp.lineage": [
        "append_lineage",
        "stage_committed",
        "per_partition_counts",
    ],
    "kgp.operators.segment": ["extract_docs"],
    "kgp.operators.ner": ["gazetteer_df", "mentions_relational"],
    "kgp.operators.triples": [
        "cap_mentions",
        "build_triples",
        "build_entities",
    ],
    "kgp.operators.textstats": ["quality_e4_sql", "lang_best_col"],
    "kgp.operators.dedup": ["near_dup_pairs_minhash"],
    "kgp.operators.sampling": ["hash_split"],
    "kgp.streaming": ["triples_for_batch", "_read_sink"],
}


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans opened on the thread that created
    the tracer nest by a stack and tag Spark jobs with their id; spans
    opened on other threads (foreachBatch callbacks) hang under the
    innermost span open on the main thread."""

    def __init__(self, run_id: str, spark=None) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._spark = spark
        self._main = threading.get_ident()
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self.enabled = True

    def _new_id(self) -> str:
        with self._lock:
            return f"{self.run_id}.{next(self._ids)}"

    def _set_group(self, span: Span | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        on_main = threading.get_ident() == self._main
        parent = self._stack[-1] if self._stack else None
        s = Span(
            self._new_id(), name, layer,
            parent.id if parent else None, now(), run_id=self.run_id,
            attrs=attrs,
        )
        if on_main:
            self._stack.append(s)
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = now()
            if on_main:
                self._stack.pop()
                self._set_group(self._stack[-1] if self._stack else None)
            with self._lock:
                self.spans.append(s)

    def add(
        self, name: str, layer: str, start: float, end: float,
        parent: Span | None, **attrs,
    ) -> Span:
        """Record a span reconstructed after the fact (streaming
        batches, timed by Spark's own progress reports)."""
        s = Span(
            self._new_id(), name, layer, parent.id if parent else None,
            start, end, self.run_id, attrs,
        )
        with self._lock:
            self.spans.append(s)
        return s

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "layer": s.layer,
                "parent": s.parent, "start": s.start, "end": s.end,
                "run_id": s.run_id, **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span], root_id: str) -> list[Span]:
    """``root_id``'s span and everything under it."""
    kids: dict[str, list[Span]] = {}
    by_id = {}
    for s in spans:
        by_id[s.id] = s
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [by_id[root_id]]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


# ---------------------------------------------------------------------------
# wrapping kgp from the outside
# ---------------------------------------------------------------------------


def _wrap(tracer: Tracer, fn: Callable, name: str, layer: str) -> Callable:
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    return traced


def instrument(tracer: Tracer) -> Callable[[], None]:
    """Wrap the functions in ``WRAPPED`` and ``StageRunner.stage``;
    returns a function that restores the originals."""
    from kgp.checkpoint import StageRunner

    undo: list[tuple[object, str, object]] = []
    for mod_name, names in WRAPPED.items():
        mod = importlib.import_module(mod_name)
        layer = mod_name.rsplit(".", 1)[1]
        for n in names:
            orig = getattr(mod, n)
            undo.append((mod, n, orig))
            setattr(mod, n, _wrap(tracer, orig, f"{layer}.{n}", layer))

    orig_stage = StageRunner.stage

    def stage(self, name, build, partition_by=None):
        with tracer.span(f"stage:{name}", STAGE_LAYER.get(name, "checkpoint")):
            return orig_stage(self, name, build, partition_by)

    undo.append((StageRunner, "stage", orig_stage))
    StageRunner.stage = stage

    def restore() -> None:
        for obj, n, orig in reversed(undo):
            setattr(obj, n, orig)

    return restore


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "peak_exec_mem_bytes", "task_skew",
)


def _empty() -> dict:
    return {k: 0 for k in SPARK_FIELDS}


def fold_event_log(lines: Iterator[str]) -> dict[str, dict]:
    """Sum task metrics per job group over an uncompressed Spark event
    log. Returns group id -> the ``SPARK_FIELDS`` counters.

    ``task_skew`` is the largest, over the group's Spark stages with two
    or more tasks, of max / median task run time; ``peak_exec_mem_bytes``
    is the largest task peak. Jobs without a group are filed under ''.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    run_times: dict[int, list[int]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            groups.setdefault(g, _empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sid = ev["Stage ID"]
            acc = groups.setdefault(stage_group.get(sid, ""), _empty())
            acc["tasks"] += 1
            acc["executor_run_ms"] += m.get("Executor Run Time", 0)
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get(
                "Remote Bytes Read", 0
            ) + sr.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["peak_exec_mem_bytes"] = max(
                acc["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            run_times.setdefault(sid, []).append(
                m.get("Executor Run Time", 0)
            )
    for sid, ts in run_times.items():
        if len(ts) < 2:
            continue
        med = statistics.median(ts)
        skew = max(ts) / med if med > 0 else 1.0
        acc = groups.setdefault(stage_group.get(sid, ""), _empty())
        acc["task_skew"] = max(acc["task_skew"], skew)
    return groups


def merge_spark(parts: list[dict]) -> dict:
    """Combine ``fold_event_log`` counters of several groups."""
    out = _empty()
    for p in parts:
        for k in SPARK_FIELDS:
            if k in ("peak_exec_mem_bytes", "task_skew"):
                out[k] = max(out[k], p[k])
            else:
                out[k] += p[k]
    return out


def _event_lines(app: Path) -> Iterator[str]:
    """Lines of one application's event log: a single file, or (Spark's
    v2 layout) a directory of ``events_<i>_*`` files read in order."""
    if app.is_file():
        files = [app]
    else:
        files = sorted(app.glob("events_*"),
                       key=lambda f: int(f.name.split("_")[1]))
    for path in files:
        with open(path) as f:
            yield from f


def fold_event_logs(log_dir: Path) -> dict[str, dict]:
    """``fold_event_log`` over every application log in ``log_dir`` (one
    per SparkContext), merged per job group."""
    groups: dict[str, dict] = {}
    for app in sorted(log_dir.iterdir()):
        for g, acc in fold_event_log(_event_lines(app)).items():
            groups[g] = merge_spark([groups[g], acc]) if g in groups else acc
    return groups
