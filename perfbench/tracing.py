"""Traced-run instrumentation, installed from outside the package.

Wrappers around the public calls into each layer record spans (name, start,
end, parent, batch id) in memory; a Spark job group per span counts the jobs
each call launches. Nothing under ``etl_consumer_spark/`` is modified: the
store methods are wrapped on the pipeline's store instance, and
``write_dead_letters`` is replaced where ``streaming.pipeline`` binds it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

from etl_consumer_spark.streaming import pipeline as pipeline_module


@dataclass
class Span:
    id: int
    name: str
    batch: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    value: float = 0.0   # buckets an upsert rewrote (its return value)


@dataclass
class Tracer:
    spark: object
    state_dir: str
    spans: list[Span] = field(default_factory=list)
    bytes_written: int = 0
    _stack: list[Span] = field(default_factory=list)
    _saved: dict = field(default_factory=dict)

    # -- spans -------------------------------------------------------------

    def _group(self, span: Span) -> str:
        return f"perfbench-{span.batch}-{span.id}"

    def begin(self, name: str, batch: int) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, batch, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobGroup(self._group(span), name)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        sc = self.spark.sparkContext
        span.jobs = len(sc.statusTracker().getJobIdsForGroup(self._group(span)))
        self._stack.pop()
        if self._stack:
            sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)

    def _current_batch(self) -> int:
        return self._stack[-1].batch if self._stack else -1

    def _wrap(self, name: str, fn, keep_result: bool = False):
        def wrapped(*args, **kwargs):
            span = self.begin(name, self._current_batch())
            try:
                out = fn(*args, **kwargs)
                if keep_result:
                    span.value = out
                return out
            finally:
                self.end(span)
        return wrapped

    # -- install / remove --------------------------------------------------

    def install(self, pipe) -> None:
        store = pipe.store
        upsert = self._wrap("sinks.upsert", store.upsert, keep_result=True)

        def upsert_with_bytes(*args, **kwargs):
            before = self._listing(self._current_batch())
            out = upsert(*args, **kwargs)
            after = self._listing(self._current_batch())
            self.bytes_written += sum(size for path, size in after.items() if before.get(path) != size)
            return out

        store.upsert = upsert_with_bytes
        store.evolve = self._wrap("sinks.evolve", store.evolve)
        self._saved["write_dead_letters"] = pipeline_module.write_dead_letters
        pipeline_module.write_dead_letters = self._wrap(
            "sinks.dead_letter_write", pipeline_module.write_dead_letters,
        )

    def remove(self, pipe) -> None:
        for name in ("upsert", "evolve"):
            pipe.store.__dict__.pop(name, None)
        pipeline_module.write_dead_letters = self._saved.pop("write_dead_letters")

    def _listing(self, batch: int) -> dict[str, int]:
        span = self.begin("trace.listing", batch)
        try:
            return state_files(self.state_dir)
        finally:
            self.end(span)

    def batch(self, fn, epoch: int):
        """Run one foreachBatch body under a ``streaming.batch`` span."""
        sc = self.spark.sparkContext
        saved = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
        span = self.begin("streaming.batch", epoch)
        try:
            return fn()
        finally:
            self.end(span)
            sc.setLocalProperty("spark.jobGroup.id", saved[0])
            sc.setLocalProperty("spark.job.description", saved[1])

    # -- summaries ---------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    def batch_summary(self, epochs: set[int]) -> dict:
        """Per-layer aggregates over the spans of the given batches."""
        batches = [s for s in self.spans if s.name == "streaming.batch" and s.batch in epochs]
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        batch_ms, self_ms, child_ms, jobs = [], [], [], []
        for b in batches:
            covered = _union([(c.start, c.end) for c in children.get(b.id, [])])
            total = (b.end - b.start) * 1e3
            batch_ms.append(total)
            child_ms.append(covered * 1e3)
            self_ms.append(total - covered * 1e3)
            jobs.append(b.jobs + sum(d.jobs for d in _descendants(b.id, children)))
        calls = lambda name: [s for s in self.spans if s.name == name and s.batch in epochs]  # noqa: E731
        ups, evolves, dls = calls("sinks.upsert"), calls("sinks.evolve"), calls("sinks.dead_letter_write")
        n = max(1, len(batches))
        useful = [u for u in ups if u.value > 0]
        return {
            "streaming.batch_ms_p50": _p50(batch_ms),
            "streaming.self_ms_p50": _p50(self_ms),
            "streaming.child_ms_p50": _p50(child_ms),
            "streaming.jobs_per_batch": sum(jobs) / n,
            "sinks.upserts_per_batch": len(ups) / n,
            "sinks.useful_upsert_ratio": len(useful) / max(1, len(ups)),
            "sinks.upsert_ms_p50": _p50([(u.end - u.start) * 1e3 for u in useful]),
            "sinks.jobs_per_upsert": sum(u.jobs for u in useful) / max(1, len(useful)),
            "sinks.buckets_per_upsert": sum(u.value for u in useful) / max(1, len(useful)),
            "sinks.evolve_ms_p50": _p50([(e.end - e.start) * 1e3 for e in evolves]),
            "sinks.dead_letter_write_ms": _p50([(d.end - d.start) * 1e3 for d in dls]),
        }


def state_files(root: str) -> dict[str, int]:
    """Data files under the state directory with their sizes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


def _descendants(span_id: int, children: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(children.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, []))
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
