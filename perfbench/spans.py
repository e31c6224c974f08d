"""Tracing for the ``--trace 1`` run.

Spans come only from this benchmark: ``install`` replaces public functions
of the program's layers with timing wrappers, and nothing is wrapped in an
untraced run. A span records name, start, end, parent span, the thread it
ran on and the measured step (an import, a micro-batch or a query key) it
belongs to. Spans stay in memory and are summarised when the run ends.

Engine counters come from Spark's event log, enabled from outside the
program through ``PYSPARK_SUBMIT_ARGS``. A job belongs to the step whose
job group the benchmark set (``perfbench-step-<n>``) or, for jobs of a
streaming micro-batch, to the step that ran batch ``streaming.sql.batchId``;
within its step it is attributed to the innermost span that was open on
the job's submission.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP_PREFIX = "perfbench-step-"

#: (module, attribute, span name): the program's public layer functions.
#: A function a caller binds by ``from x import f`` is listed under the
#: caller's module too, so the call site is traced even when the caller was
#: imported first; a function that is already wrapped is not wrapped again.
WRAPPED = [
    ("yark_spark.session", "get_spark", "session.get_spark"),
    ("yark_spark.sources.takeout", "read_watch_history", "sources.takeout.plan"),
    ("yark_spark.sources.takeout", "dedupe_history", "sources.takeout.plan"),
    ("yark_spark.sources.infodict", "split_valid", "sources.infodict.plan"),
    ("yark_spark.operators.writes", "insert_ignore", "operators.writes.plan"),
    ("yark_spark.operators.archive", "insert_ignore", "operators.writes.plan"),
    ("yark_spark.operators.archive", "upsert", "operators.writes.plan"),
    ("yark_spark.operators.archive", "archive_batch", "operators.archive.plan"),
    ("yark_spark.streaming.pipelines", "archive_sink", "streaming.plan"),
    ("yark_spark.streaming.pipelines", "run_available_now", "streaming.run"),
]

#: ParquetStore methods: the public write entry points, the Spark write
#: job of each staged table and the every-10th-commit log checkpoint.
STORE_METHODS = [
    ("write", "operators.store.write"),
    ("commit_tables", "operators.store.write"),
    ("_stage", "operators.store.job"),
    ("_log_checkpoint", "operators.store.log_checkpoint"),
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.step: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._step_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        return self._local.__dict__.setdefault("stack", [])

    def start_step(self, step: int | None) -> None:
        """Spans opened from now on belong to ``step``. A span opened on
        another thread with no span of its own open (a streaming
        ``foreachBatch`` callback) becomes a child of the span this thread
        has open."""
        self.step = step
        self._step_stack = self._stack()

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = (stack or self._step_stack or [None])[-1]
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent["id"] if parent else None,
                "step": self.step,
                "thread": threading.get_ident(),
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the layer functions listed above (traced run only)."""
    import importlib

    from yark_spark.operators.store import ParquetStore

    for mod_name, attr, name in WRAPPED:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        if not hasattr(fn, "__wrapped__"):
            setattr(mod, attr, tracer.wrap(fn, name))
    for attr, name in STORE_METHODS:
        setattr(ParquetStore, attr, tracer.wrap(getattr(ParquetStore, attr), name))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (a span's children run one after another, so their durations add)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans if s["end"] is not None}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s")
#: like COUNTERS, but combined by taking the largest value, not the sum
PEAKS = ("jvm_heap_peak_mb",)


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the run with their task metrics summed:
    ``{"group", "batch", "submit", counters...}`` (times in epoch s)."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    def part(path):
        return int(os.path.basename(path).split("_")[1])

    def lines():
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*")), key=part):
            with open(path) as f:
                yield from f

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines():
        if line.strip():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                batch = props.get("streaming.sql.batchId")
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch": int(batch) if batch is not None else None,
                    "submit": ev["Submission Time"] / 1000.0,
                    **{c: 0 for c in COUNTERS + PEAKS},
                    "jobs": 1,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                # JVM heap in use (live and garbage) at its highest while
                # the task ran; sampled only when executor metrics polling
                # is on (spark.executor.metrics.pollingInterval)
                heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                job["jvm_heap_peak_mb"] = max(job["jvm_heap_peak_mb"], heap / 2**20)
    return list(jobs.values())


def attribute_jobs(jobs: list[dict], spans: list[dict], batch_step: dict[int, int]) -> dict[int, dict]:
    """Span id -> summed engine counters of the jobs attributed to it.
    Jobs that match no step (session start, checks) are left out."""
    by_step = defaultdict(list)
    for s in spans:
        if s["step"] is not None and s["end"] is not None:
            by_step[s["step"]].append(s)
    out: dict[int, dict] = defaultdict(lambda: {c: 0 for c in COUNTERS + PEAKS})
    for job in jobs:
        step = None
        if job["group"] and job["group"].startswith(JOB_GROUP_PREFIX):
            step = int(job["group"][len(JOB_GROUP_PREFIX):])
        elif job["batch"] is not None:
            step = batch_step.get(job["batch"])
        open_spans = [s for s in by_step.get(step, ()) if s["start"] <= job["submit"] <= s["end"]]
        if not open_spans:
            continue
        inner = max(open_spans, key=lambda s: s["start"])
        for c in COUNTERS:
            out[inner["id"]][c] += job[c]
        for c in PEAKS:
            out[inner["id"]][c] = max(out[inner["id"]][c], job[c])
    return out
