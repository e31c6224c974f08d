"""Benchmark of the yark_spark archive: one workload per run.

    python3 perfbench/run.py --workload ingest_history --seed 1 --seconds 15 --trace 0

Run it from the repository root. It generates the run's inputs from the
seed under ``.bench_work/``, starts one Spark session on every core of the
machine, sets up, measures for ``--seconds`` seconds, checks the outputs,
prints the metrics by name with units, and prints as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

The end-to-end metrics share names across workloads (see ``README.md``):
``batch_p50_s`` is the median import or micro-batch time, or the sum over
query keys of each key's median time,
``rows_per_s`` the input rows processed per second, ``store_bytes_per_row``
the bytes on disk per live row, ``setup_s`` the time from process start to
the end of the cold steps and ``peak_rss_mb`` the Python process's plus the JVM's
peak resident memory.

A traced run (``--trace 1``) wraps the program's layer functions in spans
and enables Spark's event log from outside the program; its end-to-end
figures minus those of the last untraced run of the same workload and seed
are printed as the tracing overhead.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

#: the driver JVM's heap, fixed (-Xms = -Xmx) at Spark's default size
HEAP = "1g"

STREAM_PHASES = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
    "latest_offset_s": "latestOffset",
    "query_planning_s": "queryPlanning",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["ingest_history", "archive_stream", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_environment(work: str, event_log: str | None) -> None:
    """Keep Spark's scratch files inside the run's directory and, for a
    traced run, turn on the event log. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A fixed heap, set through the program's own driver-memory variable:
    # with get_spark's default (-Xmx8g, heap grown by the collector) the
    # JVM's peak RSS spread 25% between runs. Heap growth the program
    # causes then shows as GC time (spark.gc_s) and as the traced run's
    # spark.jvm_heap_peak_mb, not as peak_rss_mb.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
    args = ["--conf", "spark.ui.showConsoleProgress=false", "--driver-java-options", java_opts]
    if event_log:
        os.makedirs(event_log)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.executor.metrics.pollingInterval=100ms",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def warm_up(spark) -> None:
    """Session warm-up: one small job with a shuffle."""
    spark.range(0, 100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory of this process and of the JVM (Linux)."""
    python_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_mb = 0.0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_mb = int(line.split()[1]) / 1024
    return python_mb, jvm_mb


def layer_metrics(result: dict, tracer, jobs: list, session_s: dict) -> tuple[dict, list]:
    """Per-layer metrics of a traced run (medians over measured steps; on
    query_mix, whose steps run one key each, the sum over keys of each
    key's median; layers a workload does not run read 0) and the per-span
    summary."""
    import spans
    from workloads import QUERY_TABLES, median

    steps = [s for s in result["steps"] if not s["cold"]]
    ids = [s["step"] for s in steps]
    traced = [sp for sp in tracer.spans if sp["step"] in ids and sp["end"] is not None]
    groups = defaultdict(list)
    for s in steps:
        groups[s.get("key")].append(s["step"])

    def typical(tot, combine=sum):
        return float(combine(median(tot[i] for i in g) for g in groups.values())) if groups else 0.0

    def per_step(name, value=lambda sp: sp["end"] - sp["start"]):
        tot = dict.fromkeys(ids, 0.0)
        for sp in traced:
            if sp["name"] == name:
                tot[sp["step"]] += value(sp)
        return tot

    def of_steps(key, fn=lambda v: v):
        # a step record carries ``key`` only on the workload that records it
        return median(fn(s) for s in steps if key in s)

    batches = [b for s in steps for b in s.get("batches", [])]

    write, job = per_step("operators.store.write"), per_step("operators.store.job")
    checkpoints = [sp["end"] - sp["start"] for sp in traced if sp["name"] == "operators.store.log_checkpoint"]
    bpr = result.get("bytes_per_live_row", 0)
    m = {
        "operators.store.write_s": typical(write),
        "operators.store.job_s": typical(job),
        "operators.store.commit_s": typical({i: write[i] - job[i] for i in ids}),
        "operators.store.bytes_written": of_steps("bytes_written", lambda s: s["bytes_written"]),
        "operators.store.write_amp": of_steps(
            "novel_rows", lambda s: s["bytes_written"] / (s["novel_rows"] * bpr) if s["novel_rows"] and bpr else 0.0
        ),
        "operators.store.files_written": of_steps("files_written", lambda s: s["files_written"]),
        "operators.store.log_checkpoint_s": sum(checkpoints) / len(checkpoints) if checkpoints else 0.0,
    }
    for name, phase in STREAM_PHASES.items():
        m[f"streaming.{name}"] = median(b.get(phase, 0.0) for b in batches)
    m["operators.archive.plan_s"] = typical(per_step("operators.archive.plan"))
    # one staged Spark write job per table a micro-batch commits
    tables = per_step("operators.store.job", lambda sp: 1)
    m["operators.archive.tables_committed"] = typical(tables) if result["batch_step"] else 0.0
    m["sources.infodict.rows_in"] = of_steps("rows_in", lambda s: s["rows_in"])
    m["sources.infodict.rows_quarantined"] = of_steps("quarantined", lambda s: s["quarantined"])
    m["sources.takeout.plan_s"] = typical(per_step("sources.takeout.plan"))
    m["sources.takeout.rows_in"] = of_steps("parsed", lambda s: s["parsed"])
    m["sources.takeout.rows_unavailable"] = of_steps("unavailable", lambda s: s["unavailable"])
    m["operators.writes.plan_s"] = typical(per_step("operators.writes.plan"))
    m["operators.writes.novel_ratio"] = of_steps("landed", lambda s: s["landed"] / s["parsed"])
    for key in QUERY_TABLES:
        m[f"queries.{key}_s"] = result.get("per_key", {}).get(key, 0.0)
    m["session.get_spark_s"] = session_s["get_spark_s"]
    m["session.warmup_s"] = session_s["warmup_s"]

    engine = spans.attribute_jobs(jobs, tracer.spans, result["batch_step"])
    step_of = {sp["id"]: sp["step"] for sp in traced}
    for c in spans.COUNTERS + spans.PEAKS:
        tot = dict.fromkeys(ids, 0.0)
        for sid, counters in engine.items():
            if sid in step_of:
                step = step_of[sid]
                tot[step] = max(tot[step], counters[c]) if c in spans.PEAKS else tot[step] + counters[c]
        m[f"spark.{c}"] = typical(tot, max if c in spans.PEAKS else sum)

    # per-layer summary: self time and engine counters per step, by span name
    self_s = spans.self_times(traced)
    summary = defaultdict(lambda: defaultdict(float))
    for sp in traced:
        row = summary[sp["name"]]
        row["self_s"] += self_s[sp["id"]] / len(ids)
        row["total_s"] += (sp["end"] - sp["start"]) / len(ids)
        for c in spans.COUNTERS:
            row[c] += engine[sp["id"]][c] / len(ids) if sp["id"] in engine else 0.0
    lines = [
        f"layer {name:34s} " + " ".join(f"{k}={v:.4g}" for k, v in row.items())
        for name, row in sorted(summary.items(), key=lambda kv: -kv[1]["self_s"])
    ]
    return m, lines


def run_context(args, spark, cpus: int, load_before) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cores": cpus,
        "load_before": [round(x, 2) for x in load_before],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def load_spec() -> tuple[list[str], list[str], dict[str, str]]:
    """End-to-end names, per-layer names and every metric's unit, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]], units


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "yark_spark", "__init__.py")):
        print(f"perfbench: no yark_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))  # oracle_harness
    load_before = os.getloadavg()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure_environment(work, event_log)
    try:
        return measure(args, work, event_log, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, event_log: str | None, load_before) -> int:
    import spans
    import workloads

    e2e_names, layer_names, units = load_spec()

    tracer = spans.Tracer() if args.trace else None
    if tracer:
        spans.install(tracer)
    from yark_spark import session

    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=cpus)
    session_s = {"get_spark_s": time.perf_counter() - t}
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    warm_up(spark)
    session_s["warmup_s"] = time.perf_counter() - t

    run = workloads.Run(spark, args.seed, args.seconds, work, tracer)
    jvm = spark.sparkContext._gateway.proc
    try:
        result = workloads.WORKLOADS[args.workload](run)
        context = run_context(args, spark, cpus, load_before)
        python_mb, jvm_mb = peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits at end of its stdin
        jvm.wait(timeout=60)
    context["load_after"] = [round(x, 2) for x in os.getloadavg()]
    context["measured_steps"] = result["measured"]
    context["input_gen_s"] = round(run.excluded_s, 3)
    context.update(run.context)
    e2e = dict(result["e2e"])
    e2e["setup_s"] = run.ready_at - T0 - run.excluded_s
    e2e["peak_rss_mb"] = python_mb + jvm_mb
    context["peak_rss_python_mb"], context["peak_rss_jvm_mb"] = round(python_mb), round(jvm_mb)
    attempted = result["attempted"] + run.crashed
    failed = result["failed"] + run.crashed

    print("context " + json.dumps(context))
    for msg in run.failures:
        print("FAILED " + msg)
    for name, value, unit in result["named"]:
        print(f"metric {name} {value:.6g} {unit}")
    for name in ("setup_s", "peak_rss_mb"):
        print(f"metric {name} {e2e[name]:.6g} {units[name]}")
    print(f"metric ops_failed_ratio {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    print(f"samples: {result['measured']} measured steps; no tail percentile (fewer than 10 samples beyond p90)")
    print("step_s " + " ".join(f"{'cold:' if s['cold'] else ''}{s['s']:.3f}" for s in result["steps"]))

    results_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(results_dir, exist_ok=True)
    untraced_path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}.json")
    if tracer:
        layers, lines = layer_metrics(result, tracer, spans.read_event_log(event_log), session_s)
        for line in lines:
            print(line)
        spans_path = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
        with open(spans_path, "w") as f:
            f.writelines(json.dumps(sp) + "\n" for sp in tracer.spans)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
            for name in e2e_names:
                print(f"tracing_overhead {name} {e2e[name] - base[name]:+.6g} {units[name]} (traced {e2e[name]:.6g})")
        else:
            print("tracing_overhead: no untraced run of this workload and seed recorded yet")
        metrics = {name: {"value": layers[name], "unit": units[name]} for name in layer_names}
    else:
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
        metrics = {name: {"value": e2e[name], "unit": units[name]} for name in e2e_names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
