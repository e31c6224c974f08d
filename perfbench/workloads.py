"""The three workloads. Each one sets up and runs its cold steps (both
counted in ``setup_s``), then repeats measured steps in a closed loop with
one client until the run's seconds are spent, and checks the program's
outputs.

- ``ingest_history``: one Takeout ``watch-history.json`` import per step
  through the ``archive-history`` CLI command, into a ``history`` table
  seeded 100x larger than one import, so the store's write path dominates.
- ``archive_stream``: one info-dict file per step, drained as one
  micro-batch by ``run_available_now`` through ``archive_sink`` into a
  store that started empty: the six-table upsert graph and one
  cross-table commit per batch, where fixed per-batch cost dominates.
- ``query_mix``: one of 14 analytic query keys per step, in turn, each
  collected in full; read-only, so it bypasses the store and streaming.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import statistics
import time
from contextlib import contextmanager

import checks
import gen
from spans import JOB_GROUP_PREFIX

#: seed table rows and rows per import: the archive is 100x one import;
#: the first imports run while the JIT still compiles the write path
HISTORY_SEED_ROWS, HISTORY_IMPORT_ROWS, HISTORY_COLD_IMPORTS = 200_000, 2_000, 6
#: videos per info-dict file; every step, the cold ones too, drains one
#: file as one micro-batch; the second batch still runs while the JIT
#: compiles the upsert graph
VIDEOS_PER_FILE, STREAM_COLD_BATCHES = 500, 2
#: measured batches at least: batches still get faster as the run goes
#: on, so a slow run that measured fewer of them would read slower still
STREAM_MIN_BATCHES = 2

#: measured passes over the query keys at least (see STREAM_MIN_BATCHES)
QUERY_MIN_PASSES = 2
#: the measured steps' time limit, so a run ends well within three minutes
MAX_MEASURE_S = 60.0

#: query keys of the mix and the tables each one scans
QUERY_TABLES = {
    "q_groupby_agg": ["lineitem"],
    "q_join_inner": ["lineitem", "orders"],
    "q_join_3way": ["customer", "nation", "region"],
    "q_window_rank": ["orders"],
    "q_asof_join": ["events", "orders"],
    "q_topk": ["orders"],
    "q_dedup_exact": ["documents"],
    "q_minhash_signature": ["documents"],
    "q_dedup_fuzzy": ["documents"],
    "q_cosine_topk": ["embeddings"],
    "q_text_stats": ["documents"],
    "q_stream_tumbling": ["events"],
    "q_tpch_q3_shape": ["customer", "orders", "lineitem"],
    "q_tpch_q5_shape": ["customer", "orders", "lineitem", "nation", "region"],
}


class Run:
    """What one run shares with its workload: the session, the run's
    directory, the tracer (None when untraced) and the set-up clock."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.excluded_s = 0.0  # input generation and checks before ready
        self.ready_at: float | None = None
        self.failures: list[str] = []
        self.crashed = 0  # steps that raised: each one failed operation
        self.context: dict = {}  # printed with the run's context

    @contextmanager
    def outside_setup(self):
        """Time spent here (the benchmark's own work) is not set-up."""
        t = time.perf_counter()
        try:
            yield
        finally:
            if self.ready_at is None:
                self.excluded_s += time.perf_counter() - t

    def ready(self) -> None:
        self.ready_at = time.perf_counter()

    def span(self, name: str):
        """A span of the benchmark's own, recorded in a traced run only."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextmanager
    def step(self, i: int, name: str):
        """One timed step: Spark jobs carry the step's job group, and in a
        traced run a top-level span groups the step's layer spans."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{JOB_GROUP_PREFIX}{i}", name)
        if self.tracer:
            self.tracer.start_step(i)
        try:
            with self.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.tracer:
                self.tracer.start_step(None)

    def _attempt(self, step_fn, i: int) -> None:
        try:
            step_fn(i)
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failures.append(f"step {i} raised {exc!r}")
            self.crashed += 1

    def loop(self, step_fn, cold_steps: int = 1, until=lambda: True) -> int:
        """Cold steps 0..cold_steps-1 (set-up), then measured steps until
        the run's seconds are spent and ``until()`` holds, or for at most
        ``MAX_MEASURE_S`` or three times the run's seconds, whichever is
        longer (then the run fails). Returns the number of measured
        steps."""
        for i in range(cold_steps):
            self._attempt(step_fn, i)
        self.ready()
        start, ticks = time.perf_counter(), cpu_ticks()
        limit = max(MAX_MEASURE_S, 3 * self.seconds)
        i = cold_steps
        while (elapsed := time.perf_counter() - start) < limit and (
            i == cold_steps or elapsed < self.seconds or not until()
        ):
            self._attempt(step_fn, i)
            i += 1
        if not until():
            self.failures.append(f"the measured steps did not complete within {limit:g} s")
            self.crashed += 1
        # CPU time the hypervisor gave to other guests while measuring
        spent = [b - a for a, b in zip(ticks, cpu_ticks())]
        self.context["cpu_steal_share"] = round(spent[7] / max(1, sum(spent)), 4)
        return i - cold_steps


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (Linux ``/proc/stat``): user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def disk_usage(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed by version GC while walking
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def store_bytes(root: str) -> int:
    """Bytes on disk under ``root``: live and retained table versions,
    manifest and commit log."""
    return sum(v[0] for v in disk_usage(root).values())


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) written between two ``disk_usage`` snapshots."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)


def live_bytes(store, tables) -> int:
    """Bytes of the current version of ``tables`` (old versions excluded)."""
    from urllib.parse import urlparse

    return sum(os.path.getsize(urlparse(f).path) for t in tables for f in store.read(t).inputFiles())


def crossed_checkpoint(store, version: int) -> bool:
    """Whether the commits since log ``version`` include one that wrote the
    store's every-Nth-commit log checkpoint."""
    n = store.log_checkpoint_interval
    return store.log_version() // n > version // n


def pad_log(run: Run, store) -> None:
    """Advance the store's commit log with no-op commits (writes of an
    empty ``playlists`` table) until the every-Nth-commit log checkpoint
    falls on the first measured step, so every run measures one."""
    from yark_spark.schemas import ALL_TABLES

    t = time.perf_counter()
    n = 0
    empty = run.spark.createDataFrame([], ALL_TABLES["playlists"])
    while (store.log_version() + 1) % store.log_checkpoint_interval:
        store.write("playlists", empty)
        n += 1
    run.context["log_pad_commits"] = n
    run.context["log_pad_s"] = round(time.perf_counter() - t, 3)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------


def ingest_history(run: Run) -> dict:
    from yark_spark import cli
    from yark_spark.operators.store import ParquetStore
    from yark_spark.sources import takeout as takeout_source

    root = os.path.join(run.work, "store")
    with run.outside_setup():
        takeout = gen.TakeoutGenerator(run.seed, os.path.join(run.work, "takeout"), HISTORY_SEED_ROWS, HISTORY_IMPORT_ROWS)
        seed_path = takeout.write_seed()
    store = ParquetStore(run.spark, root)
    store.write("history", run.spark.read.parquet(seed_path))
    steps = []
    total = HISTORY_SEED_ROWS
    bytes_per_row = None
    checkpointed = False  # a measured import's commit wrote the log checkpoint

    def import_one(i: int) -> None:
        nonlocal total, bytes_per_row, checkpointed
        with run.outside_setup():
            path = takeout.next_import()
            before = disk_usage(root) if run.tracer else None
        version = store.log_version()
        out = io.StringIO()
        with run.step(i, "cli.archive_history"):
            t = time.perf_counter()
            with contextlib.redirect_stdout(out):
                rc = cli.main(["archive-history", path, "--store", root], spark=run.spark)
            dt = time.perf_counter() - t
        m = re.search(r"total=(\d+) unavailable=(\d+)", out.getvalue())
        rec = {"step": i, "cold": run.ready_at is None, "s": dt, "entries": HISTORY_IMPORT_ROWS, "ok": rc == 0 and m is not None}
        if rec["ok"]:
            rec["landed"], rec["unavailable"] = int(m[1]) - total, int(m[2])
            total = int(m[1])
            if total != takeout.expected_count:
                run.failures.append(f"import {i}: history total {total} != expected {takeout.expected_count}")
                rec["ok"] = False
        else:
            run.failures.append(f"import {i}: rc={rc}, output {out.getvalue()!r}")
        if before is not None:
            rec["bytes_written"], rec["files_written"] = written_since(before, disk_usage(root))
            rec["novel_rows"] = rec.get("landed", 0)
            # the rows the program parses from the file (an untimed re-read)
            rec["parsed"] = takeout_source.read_watch_history.__wrapped__(run.spark, path).count()
        steps.append(rec)
        if not rec["cold"] and crossed_checkpoint(store, version):
            checkpointed = True
            run.context["log_checkpoint_step"] = i
        if bytes_per_row is None and not rec["cold"]:
            bytes_per_row = store_bytes(root) / takeout.expected_count

    measured = run.loop(import_one, HISTORY_COLD_IMPORTS, until=lambda: checkpointed)
    fails = checks.check_history(store, takeout)
    if fails:
        run.failures += fails
        steps[-1]["ok"] = False
    live_rows = takeout.expected_count
    timed = [s for s in steps if not s["cold"]]
    batch_p50 = median(s["s"] for s in timed)
    rows_per_s = sum(s["entries"] for s in timed) / sum(s["s"] for s in timed)
    return {
        "steps": steps,
        "measured": measured,
        "e2e": {"batch_p50_s": batch_p50, "rows_per_s": rows_per_s, "store_bytes_per_row": bytes_per_row},
        "named": [
            ("history_batch_p50_s", batch_p50, "s"),
            ("history_rows_per_s", rows_per_s, "1/s"),
            ("store_bytes_per_row", bytes_per_row, "B"),
        ],
        "attempted": len(steps),
        "failed": sum(not s["ok"] for s in steps),
        "bytes_per_live_row": live_bytes(store, ["history"]) / live_rows,
        "batch_step": {},
    }


# ---------------------------------------------------------------------------


def archive_stream(run: Run) -> dict:
    from yark_spark.operators.store import ParquetStore
    from yark_spark.sources.infodict import INFODICT_SCHEMA
    from yark_spark.streaming import pipelines

    in_dir = os.path.join(run.work, "incoming")
    root = os.path.join(run.work, "store")
    ckpt = os.path.join(run.work, "checkpoint")
    os.makedirs(in_dir)
    with run.outside_setup():
        infodicts = gen.InfoDictGenerator(run.seed, os.path.join(run.work, "infodicts"))
    store = ParquetStore(run.spark, root)
    raw = pipelines.read_event_stream(run.spark, in_dir, INFODICT_SCHEMA, fmt="json", max_files_per_trigger=1)
    steps = []
    batch_step: dict[int, int] = {}
    bytes_per_row = None

    def live_rows() -> int:
        return sum(infodicts.expected_counts()[t] for t in checks.ARCHIVE_KEYS)

    stored = None  # the store's row counts after the last step (traced run)

    def drain_one(i: int) -> None:
        nonlocal bytes_per_row, stored
        with run.outside_setup():
            infodicts.next_file(in_dir, VIDEOS_PER_FILE)
            before = disk_usage(root) if run.tracer else None
        with run.step(i, "streaming.round"):
            t = time.perf_counter()
            q = pipelines.run_available_now(pipelines.archive_sink(store, raw, ckpt))
            dt = time.perf_counter() - t
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rec = {"step": i, "cold": run.ready_at is None, "s": dt, "videos": VIDEOS_PER_FILE, "ok": q.exception() is None and len(progress) == 1}
        if not rec["ok"]:
            run.failures.append(f"batch {i}: {len(progress)} micro-batches with input, exception {q.exception()}")
        rec["batches"] = [{k: v / 1e3 for k, v in p["durationMs"].items()} for p in progress]
        rec["rows_in"] = sum(p["numInputRows"] for p in progress)
        for p in progress:
            batch_step[int(p["batchId"])] = i
        if before is not None:
            rec["bytes_written"], rec["files_written"] = written_since(before, disk_usage(root))
            # novel rows and new lost stubs, counted in the store (untimed)
            counts = checks.archive_counts(store)
            if stored is not None:
                rec["novel_rows"] = sum(counts[t] for t in checks.ARCHIVE_KEYS) - sum(stored[t] for t in checks.ARCHIVE_KEYS)
                rec["quarantined"] = counts["lost"] - stored["lost"]
            stored = counts
        steps.append(rec)
        if i == STREAM_COLD_BATCHES - 1:
            pad_log(run, store)
        if bytes_per_row is None and not rec["cold"]:
            bytes_per_row = store_bytes(root) / live_rows()

    measured = run.loop(drain_one, STREAM_COLD_BATCHES, until=lambda: len(steps) >= STREAM_COLD_BATCHES + STREAM_MIN_BATCHES)
    fails = checks.check_archive(store, infodicts)
    if fails:
        run.failures += fails
        steps[-1]["ok"] = False
    timed = [s for s in steps if not s["cold"]]
    batch_p50 = median(b["triggerExecution"] for s in timed for b in s["batches"])
    videos_per_s = sum(s["videos"] for s in timed) / sum(s["s"] for s in timed)
    return {
        "steps": steps,
        "measured": measured,
        "e2e": {"batch_p50_s": batch_p50, "rows_per_s": videos_per_s, "store_bytes_per_row": bytes_per_row},
        "named": [
            ("stream_batch_p50_s", batch_p50, "s"),
            ("stream_videos_per_s", videos_per_s, "1/s"),
            ("store_bytes_per_row", bytes_per_row, "B"),
        ],
        "attempted": len(steps),
        "failed": sum(not s["ok"] for s in steps),
        "bytes_per_live_row": live_bytes(store, checks.ARCHIVE_KEYS) / live_rows(),
        "batch_step": batch_step,
    }


# ---------------------------------------------------------------------------


def query_mix(run: Run) -> dict:
    import pyarrow.parquet as pq
    from oracle_harness import duck_connection

    from yark_spark.queries import QUERIES

    sf_dir = os.path.join(run.work, "analytic")
    with run.outside_setup():
        recorded = gen.write_analytic_tables(run.seed, sf_dir)
    keys = list(QUERY_TABLES)
    steps = []
    cold: dict[str, object] = {}

    def run_key(i: int) -> None:
        # the keys in turn; the first pass over them is set-up, and its
        # results are checked against the oracles
        key = keys[i % len(keys)]
        with run.step(i, f"queries.{key}"):
            t = time.perf_counter()
            pdf = QUERIES[key](run.spark, sf_dir).toPandas()
            dt = time.perf_counter() - t
        rec = {"step": i, "cold": run.ready_at is None, "s": dt, "key": key}
        if i < len(keys):
            cold[key] = pdf
        else:
            rec["hash"] = checks.frame_hash(pdf)
        steps.append(rec)

    # the first pass is cold; measured in whole passes, two at least, so
    # that every key has as many samples as the others, taken at the same
    # points of the run in a slow run as in a fast one
    measured = run.loop(
        run_key, len(keys), until=lambda: len(steps) >= (1 + QUERY_MIN_PASSES) * len(keys) and len(steps) % len(keys) == 0
    )
    failed = 0
    con = duck_connection(sf_dir)
    try:
        for key, pdf in cold.items():
            fails = checks.check_query(key, pdf, sf_dir, recorded, con)
            ref = checks.frame_hash(pdf)
            runs = [s for s in steps if s["key"] == key]
            drift = [s["step"] for s in runs if "hash" in s and s["hash"] != ref]
            run.failures += fails
            if drift:
                run.failures.append(f"{key}: steps {drift} differ from the checked cold result")
            failed += len(runs) if fails else len(drift)
    finally:
        con.close()
    timed = [s for s in steps if not s["cold"]]
    per_key = {key: median(s["s"] for s in timed if s["key"] == key) for key in keys}
    query_mix_s = sum(per_key.values())
    rows = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in gen.TABLES}
    rows_scanned = sum(rows[t] for tables in QUERY_TABLES.values() for t in tables)
    table_bytes = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in gen.TABLES)
    return {
        "steps": steps,
        "measured": measured,
        "attempted": len(steps),
        "failed": failed,
        "e2e": {
            "batch_p50_s": query_mix_s,
            "rows_per_s": rows_scanned / query_mix_s,
            "store_bytes_per_row": table_bytes / sum(rows.values()),
        },
        "named": [
            ("query_mix_s", query_mix_s, "s"),
            ("query_rows_scanned_per_s", rows_scanned / query_mix_s, "1/s"),
            ("input_bytes_per_row", table_bytes / sum(rows.values()), "B"),
        ],
        "per_key": per_key,
        "batch_step": {},
    }


WORKLOADS = {"ingest_history": ingest_history, "archive_stream": archive_stream, "query_mix": query_mix}
