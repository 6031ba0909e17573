"""Span tracing from outside the program.

The tracer replaces public functions of the package (module attributes
and class methods) with wrappers that record one span per call: name,
start, end, parent span and the run id.  Each span runs its Spark jobs
under a job group of its own, so the jobs a layer launched, and the
bytes and records its stages read, are read back from the session's
status store when the run ends.  No package code changes.

When a traced call returns a lazy DataFrame (or a tuple of them) that
its caller consumes in full, the wrapper forces it with a ``noop`` write
inside the span, so the work lands in the layer that defines it.  Those
forcing jobs run under a separate group and are left out of the job and
byte counts.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "gridded_etl_tools_spark"

#: (module, attribute path, span name, force lazy output).  ``force`` is
#: off where the caller prunes or filters the returned frame: forcing a
#: whole-table read there would add scans the program never runs, so
#: ``read``'s self time is its manifest pruning and planning, and the
#: scan lands in the consumer.
TRACED = [
    ("manager", "DatasetManager.run_etl", "manager.run_etl", False),
    ("manager", "DatasetManager.transform", "manager.transform", True),
    ("manager", "DatasetManager.parse", "manager.parse", False),
    ("sources.scan", "scan_gridded", "sources.scan_gridded", True),
    ("operators.qc", "pre_parse_quality_check", "operators.qc.pre_parse_quality_check", False),
    ("operators.qc", "update_position_violations", "operators.qc.update_position_violations", False),
    ("sinks.publish", "publish", "sinks.publish.publish", False),
    ("sinks.publish", "insert_into", "sinks.publish.insert_into", False),
    ("sinks.table", "GriddedTable.read", "sinks.table.read", False),
    ("sinks.table", "GriddedTable.distinct_times", "sinks.table.distinct_times", False),
    ("sinks.table", "GriddedTable.write_initial", "sinks.table.write_initial", False),
    ("sinks.table", "GriddedTable.append", "sinks.table.append", False),
    ("sinks.table", "GriddedTable.overwrite_buckets", "sinks.table.overwrite_buckets", False),
    ("sinks.zarr_sink", "write_zarr_distributed", "sinks.zarr_sink.write_zarr_distributed", False),
    ("sources.zarr2", "decode_zarr_long", "sources.zarr2.decode_zarr_long", True),
    ("operators.aggregations", "climatology_anomaly", "operators.aggregations.climatology_anomaly", True),
    ("operators.text", "text_profile", "operators.text.text_profile", True),
    ("operators.dedup", "minhash_lsh_candidates", "operators.dedup.minhash_lsh_candidates", True),
    ("operators.dedup", "ngram_jaccard", "operators.dedup.ngram_jaccard", True),
    ("operators.dedup", "duplicate_clusters", "operators.dedup.duplicate_clusters", True),
    ("operators.clustering", "kmeans", "operators.clustering.kmeans", True),
    ("operators.similarity", "ivf_topk", "operators.similarity.ivf_topk", True),
]

#: names bound with ``from module import name`` elsewhere in the package;
#: the wrapper must replace those bindings too
ALIASES = {
    "sinks.publish.publish": [("manager", "publish")],
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    run_id: str = ""
    jobs: list[int] = field(default_factory=list)
    input_bytes: int = 0
    input_records: int = 0


class Tracer:
    """Records spans while ``active``; ``install`` wraps the package."""

    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self._spark = None

    # -- installation -------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, span_name, force in TRACED:
            owner, leaf = self._resolve(mod_name, attr)
            original = owner.__dict__[leaf]
            wrapped = self._wrap(original, span_name, force)
            self._patch(owner, leaf, wrapped)
            for alias_mod, alias_attr in ALIASES.get(span_name, []):
                self._patch(importlib.import_module(f"{PKG}.{alias_mod}"), alias_attr, wrapped)

    def uninstall(self) -> None:
        for owner, leaf, original in reversed(self._restore):
            setattr(owner, leaf, original)
        self._restore.clear()

    @staticmethod
    def _resolve(mod_name: str, attr: str):
        owner = importlib.import_module(f"{PKG}.{mod_name}")
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        return owner, leaf

    def _patch(self, owner, leaf: str, value) -> None:
        self._restore.append((owner, leaf, owner.__dict__[leaf]))
        setattr(owner, leaf, value)

    def _wrap(self, fn, name: str, force: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as span:
                out = fn(*args, **kwargs)
                if force:
                    tracer._force(span, out)
                return out

        return traced

    # -- spans ----------------------------------------------------------

    def bind(self, spark) -> None:
        self._spark = spark

    def _set_group(self, group: str | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def _group(self, span: Span, suffix: str = "") -> str:
        return f"{self.run_id}.{span.id}{suffix}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans), name=name,
            parent=parent.id if parent else None,
            start=time.perf_counter(), run_id=self.run_id,
        )
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(self._group(span))
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._group(parent) if parent else None)

    def _force(self, span: Span, out) -> None:
        self._set_group(self._group(span, ".force"))
        for df in out if isinstance(out, tuple) else (out,):
            df.write.format("noop").mode("overwrite").save()
        self._set_group(self._group(span))

    @contextmanager
    def tracing(self):
        self.active = True
        try:
            yield
        finally:
            self.active = False

    @contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    # -- counters from the status store ---------------------------------

    def collect_counters(self) -> None:
        """Attach each span's jobs and stage input to it.  Waits for the
        listener bus first: job events reach the status store
        asynchronously."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        seen_stages: set[int] = set()
        for span in self.spans:
            span.jobs = sorted(tracker.getJobIdsForGroup(self._group(span)))
            for job in span.jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else []:
                    if stage in seen_stages:
                        continue
                    seen_stages.add(stage)
                    try:
                        data = store.lastStageAttempt(stage)
                    except Py4JJavaError:
                        continue  # planned but skipped: never ran
                    span.input_bytes += data.inputBytes()
                    span.input_records += data.inputRecords()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- derived metrics ------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        lo = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, lo), min(c.end, s.end)
            if b > a:
                covered += b - a
                lo = b
        out[s.id] = (s.end - s.start) - covered
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it (spans are recorded in start
    order, so one forward pass finds all descendants)."""
    ids = {root.id}
    out = [root]
    for s in spans[root.id + 1:]:
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, summed self seconds, and Spark jobs launched
    inside the span including its descendants."""
    st = self_times(spans)
    inclusive_jobs = {s.id: len(s.jobs) for s in spans}
    for s in reversed(spans):
        if s.parent is not None:
            inclusive_jobs[s.parent] += inclusive_jobs[s.id]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "spark_jobs": 0})
        d["calls"] += 1
        d["self_s"] += st[s.id]
        d["spark_jobs"] += inclusive_jobs[s.id]
    return out
