"""Ingest benchmark: one command per workload, checked against DuckDB.

    python3 perfbench/run.py --workload backlog_replay --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics.
``setup_s`` and ``events_per_s`` are unstolen wall seconds (wall less the
host's steal share over it: on a shared host the hypervisor steals 10-30% of
CPU time in bursts, which moves raw wall-clock figures of identical work by
up to half). The other times are CPU seconds of the driver JVM plus this
process. All of them but ``setup_s`` are host-scaled: divided by how much
more CPU than on a quiet host a fixed JDK-only probe used in the same pass
(``workloads.host_slowdown``). The raw CPU and wall-clock samples are
printed beside them, with that factor and the host's steal share.
``--seconds`` scales a fixed amount of work (epochs, rounds); the run does not
stop on the clock, so two commits always do identical work.
``--trace 1`` runs the workload three times in one session with the Spark
event log on -- a throughput-only untraced pass, the full pass traced (spans
and Spark job groups), and the untraced pass again -- and prints the
per-layer metrics of the traced pass plus the tracing overhead: CPU
throughput of the traced pass against the mean of the two untraced ones. The
JVM is still warming up across the passes (on a 4-core host a second
identical pass used 10-15% less CPU); untraced passes on both sides of the
traced one cancel that drift. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the environment and each metric's samples. Exits 1 on any wrong answer,
2 when the engine package is not next to the benchmark.

Scratch data (warehouses, WAL files, Spark local dirs, the event log) goes
under ``.perfbench_work/`` in the repository root and is removed at exit; the
spans and the full result of each run are kept in ``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_exchange_hl7_spark"

# name -> (unit, better); the end-to-end metrics of BENCHMARK.json
# "s" is unstolen wall seconds, "cpu_s" CPU seconds of the driver JVM plus
# this process (see workloads.Clock)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "events_per_s": ("1/s", "higher"),
    "events_per_cpu_s": ("1/cpu_s", "higher"),
    "batch_cpu_s_p50": ("cpu_s", "lower"),
    "maintenance_cpu_s": ("cpu_s", "lower"),
    "read_cpu_s": ("cpu_s", "lower"),
    "storage_amp": ("ratio", "lower"),
    "rss_peak_mb": ("MB", "lower"),
    "heap_live_mb": ("MB", "lower"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_session(work: str, nproc: int, event_log_dir: str | None):
    from data_exchange_hl7_spark.session import build_session

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    conf = {
        # A fixed-size heap (initial = max). With the engine's default
        # (8g max, resized by G1) the same run did 2 s or 5 s of GC work,
        # depending on when G1 chose to grow the heap, and peak RSS moved by
        # up to half. The cost: JVM heap growth below 1g does not show in
        # rss_peak_mb; heap_live_mb shows what the engine keeps.
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        # a fixed set of JIT compiler threads: workloads.Clock subtracts
        # their CPU, which a thread that exits would take with it
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM the session launched to exit
    (closing its stdin is the gateway's exit signal)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def rss_peak_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of the driver JVM and of this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap in use after a full collection (MB): what the engine keeps
    once the work is done (caches, metadata, job and query history)."""
    spark._jvm.java.lang.System.gc()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def engine_sums(eng) -> dict:
    from pyspark.sql import functions as F

    m = eng.metrics().agg(F.sum("events_in"), F.sum("rejected")).collect()[0]
    lin = eng.lineage().agg(F.sum("keys_changed")).collect()[0]
    return {"events_in": m[0] or 0, "rejected": m[1] or 0, "keys_changed": lin[0] or 0}


def operators_standalone(spark, wl, table, tracer) -> None:
    """clean_content + validate and the bucketed dedup on the first WAL file
    (one epoch slice), each into a noop sink; the dedup input is cached first so its span
    times the dedup alone."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark.engine import KEY_COLS, SCHEMA_OPS
    from data_exchange_hl7_spark.operators import dedup, validate
    from data_exchange_hl7_spark.operators.normalize import clean_content

    sl = wl.read_wal(wl.wal_files[:1])
    with tracer.span("operators.clean_validate"):
        validate.validate(clean_content(sl)).drop("report", "report_entries").write.format(
            "noop"
        ).mode("overwrite").save()
    accepted, _ = validate.branch(validate.validate(clean_content(sl)))
    flat = (
        accepted.filter(~F.col("op").isin(*SCHEMA_OPS))
        .drop("report", "report_entries")
        .withColumn("__bucket", table.bucket_expr())
        .persist()
    )
    flat.count()
    try:
        with tracer.span("operators.dedup"):
            dedup.latest_by_key_bucketed(
                flat, KEY_COLS, ["lsn", "ts", "event_id"],
                n_buckets=table.current_snapshot()["n_buckets"],
            ).write.format("noop").mode("overwrite").save()
    finally:
        flat.unpersist()


def traced_targets():
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.lake.table import LakeTable
    from data_exchange_hl7_spark.streaming.cdf_tail import CdfTailReplicator
    from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

    return [
        (Engine, "apply_epoch", "engine.apply_epoch"),
        (LakeTable, "merge", "lake.merge"),
        (LakeTable, "compact", "lake.compact"),
        (LakeTable, "expire_snapshots", "lake.expire_snapshots"),
        (MicroBatchRunner, "run", "streaming.runner_run"),
        (CdfTailReplicator, "poll", "streaming.cdf_poll"),
    ]


def run(args, work: str, results_dir: str) -> tuple[dict, list[str]]:
    import layers
    import workloads
    from spans import Tracer, find_event_log, parse_event_log, summarize

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    lines: list[str] = []
    checks = workloads.Checks()

    host_setup = workloads.cpu_jiffies()
    t_setup = time.perf_counter()
    spark = start_session(work, nproc, log_dir)
    session_s = time.perf_counter() - t_setup
    try:
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": spark.sparkContext.master,
            "warehouse_fs": fs_type(work),
            "scratch_fs": fs_type(os.path.join(work, "spark-local")),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_sha": git_sha(),
        }
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up(checks)
        warm_s = time.perf_counter() - t0
        # set-up before the measured pass: JVM start, input generation,
        # warm-up
        host0 = workloads.cpu_jiffies()
        setup_before = workloads.unstolen(time.perf_counter() - t_setup, host_setup, host0)
        if args.trace:
            # untraced throughput-only passes of the same plan on both sides
            # of the traced one, so JVM warm-up drift cancels in the baseline
            before = wl.run_pass("pass0", checks, Tracer(), reads=False)
            tracer = Tracer(spark.sparkContext, enabled=True)
            with tracer.instrument(traced_targets(), after=delta_depth_sampler):
                measured = wl.run_pass("pass1", checks, tracer)
            extras = engine_sums(measured["engine"])
            operators_standalone(spark, wl, measured["table"], tracer)
            after = wl.run_pass("pass2", checks, Tracer(), reads=False)
            extras["untraced_events_per_cpu_s"] = statistics.mean(
                [events_per_cpu_s(before), events_per_cpu_s(after)]
            )
            extras["traced_events_per_cpu_s"] = events_per_cpu_s(measured)
        else:
            measured = wl.run_pass("pass0", checks, Tracer())
            measured["heap_live_mb"] = heap_live_mb(spark)
        env["host_steal_frac"] = workloads.steal_frac(host0, workloads.cpu_jiffies())
        rss = rss_peak_mb(spark)
    finally:
        stop_session(spark)

    setup_wall = {
        "session": session_s, "inputs": gen_s, "warm_up": warm_s,
        "preload_and_read_warm_up": sum(w for w, *_ in measured["setup"]),
    }
    lines.append("env " + json.dumps(env))
    lines.append("setup_wall_s " + json.dumps(setup_wall))
    lines.append("rss_mb " + json.dumps({"jvm": rss[0], "python": rss[1]}))
    samples = {k: measured.get(k, []) for k in
               ("batch", "maintenance", "lookup", "scan", "cdf_poll", "probe")}
    for k, v in samples.items():
        if v:
            lines.append(f"samples {k} wall_s " + json.dumps(summarize(w for w, *_ in v)))
            lines.append(f"samples {k} cpu_s " + json.dumps(summarize(c for _, c, _ in v)))
    record = {"env": env, "setup_wall_s": setup_wall, "samples": samples,
              "problems": checks.problems}
    if args.trace:
        groups = parse_event_log(find_event_log(log_dir))
        per_layer = layers.derive(tracer.spans, groups, measured, extras)
        tracer.dump(os.path.join(results_dir, f"spans-{args.workload}-{args.seed}.json"))
        record["per_layer"] = per_layer
        metrics = {k: (per_layer[k], layers.TARGETS[k][0]) for k in layers.TARGETS}
        for k, (v, unit) in metrics.items():
            lines.append(
                f"metric {k} = {v:.6g} {unit}"
                " (moves {} on {})".format(*layers.TARGETS[k][2])
            )
    else:
        slow = workloads.host_slowdown(samples["probe"])
        lines.append(f"host_slowdown {slow:.4f}")
        e2e = {
            "setup_s": setup_before + sum(u for *_, u in measured["setup"]),
            # events over host-scaled unstolen write wall: sees waits and
            # lost parallelism, which CPU seconds do not
            "events_per_s": slow * measured["events"]
            / sum(u for *_, u in measured["write"]),
            "events_per_cpu_s": slow * events_per_cpu_s(measured),
            "batch_cpu_s_p50": statistics.median(c for _, c, _ in samples["batch"]) / slow,
            "maintenance_cpu_s": sum(c for _, c, _ in samples["maintenance"]) / slow,
            # all timed lookups, scans and CDF polls of the run (a fixed mix
            # per workload): a median of a handful of sub-second reads moved
            # with host contention by up to 0.27 of itself between runs
            "read_cpu_s": sum(
                c for _, c, _ in samples["lookup"] + samples["scan"] + samples["cdf_poll"]
            ) / slow,
            "storage_amp": measured["storage_amp"],
            "rss_peak_mb": sum(rss),
            "heap_live_mb": measured["heap_live_mb"],
        }
        record["end_to_end"] = e2e
        metrics = {k: (e2e[k], END_TO_END[k][0]) for k in END_TO_END}
        for k, (v, unit) in metrics.items():
            lines.append(f"metric {k} = {v:.6g} {unit}")
    for p in checks.problems:
        lines.append(f"MISMATCH {p}")
    with open(os.path.join(
        results_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, lines


def events_per_cpu_s(pass_out: dict) -> float:
    """Applied events over the CPU seconds of the write phase (apply +
    maintenance; reads excluded)."""
    return pass_out["events"] / sum(c for _, c, _ in pass_out["write"])


def delta_depth_sampler(name, args, out, span):
    """After each traced merge: the table's MoR delta layer count."""
    if name == "lake.merge":
        span.attrs["delta_depth"] = len(args[0].current_snapshot().get("deltas", []))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to "
              f"{os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, lines = run(args, work, results_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
