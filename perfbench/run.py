"""Benchmark entry point: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, then sets up once, cold: package import, session start with its JVM
launch, and one warm-up execution of every plan shape. After
``SETTLE_ROUNDS`` untimed rounds it runs ops in a closed loop with one
client on ``local[nproc]``: each round runs every op once in a seeded
order, and rounds start until ``--seconds`` have passed (the last round is
finished, so every run measures whole rounds). Afterwards it checks the
outputs once, untimed, and prints one JSON line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything it writes goes under ``.perfbench_work/`` in the current
directory, which it removes at the end. It exits non-zero without a result
when the package is not in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from time import perf_counter
from urllib.parse import unquote, urlparse

import numpy as np

import gen
import workloads
from layers import SparkCounters, Spans

ROOT = os.getcwd()
PACKAGE = "bridge_analytics_template_spark"
WORKLOADS = ("bridge_etl", "analytics")
#: The tail metric's percentile, the lowest of p99/p95/p90/p75: a run at
#: ``run_seconds`` holds 16-24 (bridge_etl) or 27-45 (analytics) ops, so 4
#: to 11 are above it.
TAIL_PCT = 75
#: Untimed rounds of every op between set-up and measuring, per workload.
#: After the set-up's warm-up, op times keep falling for two (analytics) to
#: three (bridge_etl) more rounds while the JVM compiles; without these
#: rounds a run's percentiles depend on how much of that drift its
#: measured window holds.
SETTLE_ROUNDS = {"bridge_etl": 3, "analytics": 2}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def percentile(values, pct):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, -(-len(s) * pct // 100) - 1)]


def vm_hwm_kb(pid="self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of all CPUs since boot, from /proc/stat.
    Stolen ticks are time a hypervisor ran other guests on this guest's CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def measure(workload, spark, seconds, rng, spans, counters=None, min_ops=0):
    """Closed loop, one client: whole seeded rounds over every op, at least
    one, until ``seconds`` have passed and ``min_ops`` ops have run."""
    records, input_files = [], {}
    names = workload.ops()
    t_end = perf_counter() + seconds
    while True:
        for name in rng.permutation(names).tolist():
            if counters is not None:
                counters.begin()
            rec = {"name": name, "error": None}
            t0 = perf_counter()
            try:
                df = workload.run_op(spark, name, spans, rng)
            except Exception as ex:
                df, rec["error"] = None, repr(ex)[:300]
            rec["s"] = perf_counter() - t0
            if counters is not None:
                rec["spark"] = counters.end()
            if df is not None and name not in input_files:
                input_files[name] = df.inputFiles()
            rec.update(workload.after_op(name))
            records.append(rec)
        if perf_counter() >= t_end and len(records) >= min_ops:
            return records, input_files


def tally(records, errors) -> list[dict]:
    """The failed ops: those that raised, plus every run of an op whose
    output check failed (``errors`` maps op name to the check's message)."""
    for r in records:
        if r["error"] is None and r["name"] in errors:
            r["error"] = errors[r["name"]]
    return [r for r in records if r["error"]]


def input_rows(files, manifest, data_dir) -> int:
    """Rows of the generated files a plan reads, from the generator's manifest."""
    paths = (unquote(urlparse(uri).path) for uri in files)
    return sum(manifest["files"][os.path.relpath(p, data_dir)]["rows"] for p in paths)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def set_up(workload_name, data_dir, manifest, work):
    """The run's one set-up, in a process that has not imported the package
    yet: package import and session start (which launches the JVM), then one
    warm-up execution of every op. Returns the session, the workload and the
    times of the set-up and of its two phases."""
    t0 = perf_counter()
    from bridge_analytics_template_spark.session import get_spark

    spark = get_spark("perfbench")
    workload = workloads.make(workload_name, data_dir, manifest, work)
    t1 = perf_counter()
    workload.warm(spark, Spans())
    spark.catalog.clearCache()
    t2 = perf_counter()
    return spark, workload, {"setup": t2 - t0, "session.get_spark": t1 - t0, "setup.warmup": t2 - t1}


def run(args, work) -> int:
    data_dir = os.path.join(work, "inputs")
    t = perf_counter()
    manifest = gen.generate(data_dir, args.workload, args.seed)
    generate_s = perf_counter() - t

    spark, workload, setup = set_up(args.workload, data_dir, manifest, work)
    t = perf_counter()
    measure(workload, spark, 0.0, np.random.default_rng([args.seed, 1]), Spans(),
            min_ops=SETTLE_ROUNDS[args.workload] * len(workload.ops()))
    spark.catalog.clearCache()
    settle_s = perf_counter() - t

    spans = Spans(spark.sparkContext if args.trace else None)
    counters = SparkCounters(spark, spans) if args.trace else None
    rng = np.random.default_rng([args.seed, 2])
    ticks0 = cpu_ticks()
    records, input_files = measure(workload, spark, args.seconds, rng, spans, counters)
    ticks1 = cpu_ticks()

    errors = workload.check(spark, {r["name"] for r in records})
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb()) / 1024
    cores = spark.sparkContext.defaultParallelism
    stop_jvm()

    failed = tally(records, errors)
    for r in failed[:5]:
        print(f"perfbench: op {r['name']} failed: {r['error']}", file=sys.stderr)
    rows = {n: input_rows(f, manifest, data_dir) for n, f in input_files.items()}
    op_s = [r["s"] for r in records]
    e2e = {
        "rows_per_s": (sum(rows.get(r["name"], 0) for r in records) / sum(op_s), "1/s"),
        "op_p50_s": (statistics.median(op_s), "s"),
        f"op_p{TAIL_PCT}_s": (percentile(op_s, TAIL_PCT), "s"),
        "setup_s": (setup["setup"], "s"),
    }
    if args.trace:
        metrics = layer_metrics(workload, records, spans, cores)
        metrics.update({
            "session.get_spark_s": (setup["session.get_spark"], "s"),
            "setup.warmup_s": (setup["setup.warmup"], "s"),
            "setup.settle_s": (settle_s, "s"),
            "bench.generate_s": (generate_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "trace.op_p50_s": e2e["op_p50_s"],
            "host.steal_ratio": ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), "ratio"),
            "fail_ratio": (len(failed) / len(records), "ratio"),
        })
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(workload, records, spans, cores) -> dict:
    """Per-layer metrics of a traced run: span medians, per-op means of the
    Spark counters, and the tracer's own cost."""
    n = len(records)
    med = lambda layer: statistics.median(spans.times[layer]) if spans.times.get(layer) else 0.0
    out = {f"{layer}_s": (med(layer), "s") for layer in LAYERS}
    sp = [r["spark"] for r in records]
    per_op = lambda key: sum(s[key] for s in sp) / n
    jobs = lambda layer: sum(s["jobs_by_layer"].get(layer, 0) for s in sp) / n
    ratios = [x for s in sp for x in s["task_ratios"]]
    op_wall = sum(r["s"] for r in records)
    out.update({
        "queries.build_jobs": (jobs("queries.build"), "count/op"),
        "fileview.file_view_jobs": (jobs("fileview.file_view"), "count/op"),
        "spark.jobs": (per_op("jobs"), "count/op"),
        "spark.stages": (per_op("stages"), "count/op"),
        "spark.tasks": (per_op("tasks"), "count/op"),
        "spark.task_s": (per_op("task_ms") / 1000, "s/op"),
        "spark.busy_ratio": (sum(s["task_ms"] for s in sp) / 1000 / (op_wall * cores), "ratio"),
        "spark.one_task_stages": (per_op("one_task_stages"), "count/op"),
        "spark.max_task_ratio": (statistics.median(ratios) if ratios else 1.0, "ratio"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "B/op"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "B/op"),
        "spark.spill_bytes": (per_op("spill_bytes"), "B/op"),
        "spark.input_bytes": (per_op("input_bytes"), "B/op"),
        "spark.gc_s": (per_op("gc_ms") / 1000, "s/op"),
        "spark.failed_tasks": (per_op("failed_tasks"), "count/op"),
        "trace.overhead_s": (spans.overhead_s / n, "s/op"),
    })
    bridge = isinstance(workload, workloads.BridgeEtl)
    ingested = sorted({r["name"] for r in records}) if bridge else []
    out.update({
        "sink.files_written": (sum(r.get("files_written", 0) for r in records) / n, "count/op"),
        "sink.bytes_written": (sum(r.get("bytes_written", 0) for r in records) / n, "B/op"),
        "validation.rows_quarantined": (
            sum(workload.quarantined.get(r["name"], 0) for r in records) / n if bridge else 0.0,
            "count/op",
        ),
        "sink_bytes_per_input_byte": (
            sum(map(workload.sink_bytes, ingested)) / sum(map(workload.raw_bytes, ingested)) if bridge else 0.0,
            "ratio",
        ),
    })
    for q in workloads.ANALYTICS:
        times = [r["s"] for r in records if r["name"] == q]
        out[f"op.{q}.s"] = (statistics.median(times) if times else 0.0, "s")
    return out


LAYERS = (
    "queries.build",
    "queries.exec",
    "fileview.file_view",
    "coercion.apply_coercion",
    "validation.quarantine",
    "sink.write_partitioned",
    "sink.read_partitioned",
    "lookups.filter_unique",
)


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM gateway, and wait for the JVM to
    exit. Does nothing when no JVM was started or it is already stopped."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
