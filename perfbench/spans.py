"""Spans and counters recorded from the benchmark's own files.

Tracing never goes inside the package: the traced run swaps timing
wrappers into the ``streaming.pipeline`` module namespace (the names
``IngestionPipeline.process_batch`` calls), wraps the calls the
workloads make into ``session``, ``catalog``, ``queries`` and
``registry``, and reads Spark's own per-trigger progress events. Spans
are kept in memory and written out once, at the end of the run.

A span has a name, start, end, parent and the run id; a layer's self
time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

#: the six sinks of one micro-batch, in the order process_batch runs them
SINKS = (
    "orders",
    "product_details",
    "shipping_addresses",
    "purchase_details",
    "errors",
    "serving",
)
PROGRESS_PHASES = (
    "latestOffset",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


class Tracer:
    """Span store for one process. ``enabled=False`` makes every method
    a no-op, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = {}
        self.progress: list[dict] = []
        self.phase = "setup"
        #: (wall time, phase) at each phase change, to place events that
        #: arrive asynchronously (Spark's progress events)
        self.phase_log: list[tuple[float, str]] = [(0.0, "setup")]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "phase": self.phase,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def set_phase(self, phase: str) -> None:
        self.phase = phase
        self.phase_log.append((time.time(), phase))

    def phase_at(self, wall: float) -> str:
        return [p for t, p in self.phase_log if t <= wall][-1]

    def add(self, key: str, value: float) -> None:
        """Add to a counter of the current phase."""
        if self.enabled:
            with self._lock:
                phase = self.counts.setdefault(self.phase, {})
                phase[key] = phase.get(key, 0) + value

    # -- derived numbers ---------------------------------------------------
    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (phase is None or s["phase"] == phase)
        ]

    def median(self, name: str, phase: str | None = None) -> float:
        d = self.durations(name, phase)
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": self.spans,
                    "self_time_s": self.self_times(),
                    "counts": self.counts,
                    "progress": self.progress,
                    **extra,
                },
                f,
                indent=1,
            )


def _dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's hidden ``_``/``.``
    bookkeeping files are not counted."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


@contextmanager
def job_group(spark, group: str):
    """Run the block under a Spark job group and yield a callable that
    returns how many jobs the group launched."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def install_pipeline_wrappers(tracer: Tracer) -> None:
    """Swap timing wrappers into ``streaming.pipeline``'s namespace and
    around ``IngestionPipeline.process_batch``.

    The process_batch wrapper
    materializes the decoded batch first (``persist(); count()``) so the
    decode cost lands in ``sources.decode`` instead of in the first
    sink that touches the batch.
    """
    from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline as pl

    orig_process = pl.IngestionPipeline.process_batch
    orig_write = pl.write_partitioned
    orig_errors = pl.write_errors
    orig_upsert = pl.serving_upsert

    def process_batch(self, batch, batch_id):
        with tracer.span("pipeline.process_batch", batch_id=batch_id):
            with tracer.span("sources.decode"):
                batch.persist()
                batch.count()
            tracer.add("pipeline.batches", 1)
            return orig_process(self, batch, batch_id)

    def sink(name: str, df, path_of, call):
        spark = df.sparkSession
        group = f"perfbench-{name}-{uuid.uuid4().hex[:8]}"
        with tracer.span(f"sinks.{name}"), job_group(spark, group) as jobs:
            call()
        tracer.add(f"sinks.{name}.jobs", jobs())
        n, size = _dir_size(path_of)
        tracer.add(f"sinks.{name}.files", n)
        tracer.add(f"sinks.{name}.bytes", size)

    def write_partitioned(df, path, table=None, **kw):
        sink(table, df, path, lambda: orig_write(df, path, table=table, **kw))

    def write_errors(bad, base_path, batch_id=None):
        path = os.path.join(base_path, "errors", f"bid={batch_id}")
        sink("errors", bad, path, lambda: orig_errors(bad, base_path, batch_id=batch_id))

    def serving_upsert(spark, batch, store_path, **kw):
        # the store is rewritten per touched bucket: count what the
        # upsert leaves on disk that is new since it started
        before = _file_stamps(store_path)
        group = f"perfbench-serving-{uuid.uuid4().hex[:8]}"
        with tracer.span("sinks.serving"), job_group(spark, group) as jobs:
            orig_upsert(spark, batch, store_path, **kw)
        tracer.add("sinks.serving.jobs", jobs())
        after = _file_stamps(store_path)
        new = [k for k, v in after.items() if before.get(k) != v]
        tracer.add("sinks.serving.files", len(new))
        tracer.add("sinks.serving.bytes", sum(after[k][1] for k in new))

    pl.IngestionPipeline.process_batch = process_batch
    pl.write_partitioned = write_partitioned
    pl.write_errors = write_errors
    pl.serving_upsert = serving_upsert


def _file_stamps(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith(("_", ".")):
                p = os.path.join(root, name)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size)
    return out


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener that keeps each micro-batch's
    ``durationMs`` phases (Spark's own per-trigger progress events)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            if p.numInputRows == 0:
                return
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            tracer.progress.append(
                {
                    "phase": tracer.phase_at(start.timestamp()),
                    "batch_id": p.batchId,
                    **p.durationMs,
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


def layer_metrics(tracer: Tracer, phase: str) -> dict[str, float]:
    """The per-layer metrics every workload has, over the micro-batches
    of ``phase``: per-batch medians of timers, per-batch means of counts
    and of Spark's progress phases."""
    n_batches = len(tracer.durations("pipeline.process_batch", phase))
    out = {
        "session.get_spark_s": tracer.median("session.get_spark"),
        "session.first_job_s": tracer.median("session.first_job"),
        "pipeline.batches": float(n_batches),
        "pipeline.process_batch_s": tracer.median("pipeline.process_batch", phase),
        "sources.decode_s": tracer.median("sources.decode", phase),
    }
    prog = [p for p in tracer.progress if p["phase"] == phase]
    for key in PROGRESS_PHASES:
        vals = [p.get(key, 0) for p in prog]
        out[f"progress.{key}_ms"] = statistics.fmean(vals) if vals else 0.0
    for s in SINKS:
        label = {
            "errors": "sinks.write_errors_s",
            "serving": "sinks.serving_upsert_s",
        }.get(s, f"sinks.write_partitioned.{s}_s")
        out[label] = tracer.median(f"sinks.{s}", phase)
    counts = tracer.counts.get(phase, {})
    for s in SINKS:
        for c in ("files", "bytes", "jobs"):
            out[f"sinks.{s}.{c}"] = counts.get(f"sinks.{s}.{c}", 0.0) / max(1, n_batches)
    return out


def workload_layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics that only the analytics workload has: catalog
    registration (set-up), each reference query's planning and execution
    (measured rounds), and each panel entry's time and job count."""
    out = {"catalog.register_derived_tables_s": tracer.median("catalog.register_derived_tables")}
    for name in sorted({s["name"] for s in tracer.spans}):
        if name.startswith(("queries.", "registry.")):
            out[f"{name}_s"] = tracer.median(name, "measure")
    for key, value in tracer.counts.get("measure", {}).items():
        if key.startswith("registry."):
            out[key] = value
    return out
