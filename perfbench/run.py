#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload channel_ingest --seed 1 \\
        --seconds 20 --trace 0

Run it from the repository root: the program (``pypeman_spark``) is
imported from the working directory, and Spark's Python workers find it
there too. Each workload is one process driving a closed loop with one
client: the next operation starts when the previous one has finished.
Operations run in whole rounds, at least one, as many as fit in
``--seconds`` of measurement. Every operation's answer is checked outside the timing; a failed
check counts the operation as failed and the run goes on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
calls into each layer, prints the per-layer metrics and writes the spans
to ``.perfbench/traces/``. Stores, checkpoints and Spark's scratch space
live under ``.perfbench/tmp/<run>/``, removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

# Spark threads: fixed, and no more than the host has (see README)
THREADS = max(1, min(2, os.cpu_count() or 1))

END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
PER_LAYER = {
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "pipeline.run_s": "s", "operators.udf_calls_per_msg": "count",
    "msgstore.store_s": "s", "msgstore.change_states_s": "s",
    "msgstore.add_meta_s": "s", "msgstore.files": "count",
    "msgstore.bytes_per_msg": "B", "msgstore.search_s": "s",
    "msgstore.get_s": "s", "msgstore.preview_s": "s",
    "retry.park_s": "s", "retry.sweep_s": "s", "retry.parked": "count",
    "retry.swept": "count",
    "admin.list_s": "s", "admin.view_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "session.start_s": "s", "jvm.gc_ms": "ms", "process.cpu_s_per_op": "s",
    "self.bench_s": "s", "self.streaming_s": "s", "self.admin_s": "s",
    "self.retry_s": "s", "self.pipeline_s": "s", "self.msgstore_s": "s",
    "trace.op_latency_s": "s", "trace.ops_per_s": "1/s",
    "trace.spans_per_op": "count",
}
WORKLOADS = ("channel_ingest", "store_admin")


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(rundir: str):
    for sub in ("local", "tmp", "jtmp"):
        os.makedirs(os.path.join(rundir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "local")
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher too) keeps its temp files in the run dir
    # and writes no /tmp/hsperfdata_* file; its JIT compiler threads are
    # a fixed set, so tree_cpu_s can leave out their time
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        "-Djava.io.tmpdir=" + os.path.join(rundir, "jtmp"))
    tempfile.tempdir = os.environ["TMPDIR"]
    from pypeman_spark.session import get_spark

    return get_spark(
        "perfbench", cpus=THREADS,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(rundir, "warehouse")},
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (the JVM stops the Python workers it started)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Counts ops and the CPU time they take (two /proc reads per op);
    in traced mode also opens the op span and reads the Spark and GC
    counters around each op."""

    def __init__(self, spark, tracer):
        from harness import SparkCounters, tree_cpu_s

        self.tracer = tracer
        self.n_ops = 0
        self.jobs = self.stages = self.tasks = 0
        self.cpu_s = self.gc_ms = 0.0
        self._cpu = tree_cpu_s
        self.counters = SparkCounters(spark) if tracer is not None else None

    def timed(self, fn):
        cpu0 = self._cpu()
        if self.tracer is not None:
            self.counters.mark()
            gc0 = self.counters.gc_ms()
            sid = self.tracer.begin("op", "bench")
        try:
            return fn()
        finally:
            if self.tracer is not None:
                self.tracer.end(sid)
            self.n_ops += 1
            self.cpu_s += self._cpu() - cpu0
            if self.tracer is not None:
                self.gc_ms += self.counters.gc_ms() - gc0
                jobs, stages, tasks = self.counters.since_mark()
                self.jobs += jobs
                self.stages += stages
                self.tasks += tasks


def run(args) -> dict:
    from harness import OpLog, Tracer

    root = os.getcwd()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    rundir = os.path.join(root, ".perfbench", "tmp", run_id)
    os.makedirs(rundir)
    tracer = Tracer(run_id) if args.trace else None
    spark = workload = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(rundir)
        session_start_s = time.perf_counter() - t0
        if args.workload == "channel_ingest":
            from ingest import IngestWorkload as Workload
        else:
            from admin import AdminWorkload as Workload
        workload = Workload(spark, os.path.join(rundir, "work"), args.seed, tracer)
        workload.setup()
        setup_s = process_age_s()
        if tracer is not None:
            tracer.spans.clear()  # per-layer figures cover timed ops only
        ops = OpLog()
        runner = Runner(spark, tracer)
        t_measure = time.perf_counter()
        rounds = broken = 0
        while True:
            try:
                workload.run_round(ops, runner.timed)
            except Exception:  # noqa: BLE001 — a failed op never aborts the run
                ops.record("round", None, traceback.format_exc(limit=3))
                broken += 1
            rounds += 1
            elapsed = time.perf_counter() - t_measure
            # whole rounds only: stop before one that would overrun
            if elapsed * (rounds + 1) / rounds > args.seconds:
                break
        measured_s = time.perf_counter() - t_measure
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "cpu_s_per_op": runner.cpu_s / max(1, runner.n_ops),
            }
        else:
            metrics = layer_metrics(workload, runner, tracer, ops,
                                    session_start_s)
            tracer.write(os.path.join(root, ".perfbench", "traces",
                                      run_id + ".jsonl"))
        for failure in ops.failures:
            print("failed op:", failure.strip().splitlines()[-1], file=sys.stderr)
        units = PER_LAYER if tracer is not None else END_TO_END
        print(f"perfbench: {ops.attempted} ops in {rounds} rounds, "
              f"{measured_s:.1f} s (ops "
              f"{sum(map(sum, ops.latency.values())):.1f} s), "
              f"setup {setup_s:.1f} s, "
              f"{ops.failed} failed; latency by kind "
              + json.dumps({k: [round(x, 3) for x in v]
                            for k, v in ops.latency.items()}), file=sys.stderr)
        return {
            # False only when a round broke off before its checks ran
            "correct": broken == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        try:
            if workload is not None:
                workload.teardown()
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(rundir, ignore_errors=True)


def layer_metrics(workload, runner, tracer, ops, session_start_s) -> dict:
    n = max(1, runner.n_ops)
    out = {k: 0.0 for k in PER_LAYER}
    out.update(workload.layer_metrics(tracer))
    out.update({
        "spark.jobs_per_op": runner.jobs / n,
        "spark.stages_per_op": runner.stages / n,
        "spark.tasks_per_op": runner.tasks / n,
        "session.start_s": session_start_s,
        "jvm.gc_ms": runner.gc_ms / n,
        "process.cpu_s_per_op": runner.cpu_s / n,
        "trace.op_latency_s": ops.op_latency_s(),
        "trace.ops_per_s": ops.ops_per_s(),
        "trace.spans_per_op": len(tracer.spans) / n,
    })
    for layer, seconds in tracer.self_times().items():
        out[f"self.{layer}_s"] = seconds / n
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import pypeman_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {os.getcwd()}: "
              f"{exc}; run from the repository root", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
