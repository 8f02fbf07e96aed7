#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: it imports ``iceberg_insert_spark`` from
the working directory and exits with code 2 when that package is missing.
One client runs the workload's operations back to back (a closed loop) on
``local[<cpus>]`` in this one process; the workload seed makes the inputs.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every run writes
that line, with ``cpus``, ``defaultParallelism`` and the operation count,
to ``.perfbench_out/<run>/result.json``; a traced run adds the spans
(``spans.jsonl``) and Spark's event log there. Inputs, tables and Spark's
scratch space live under ``.perfbench_work/<run>/``, which the run removes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_T0_PERF = time.perf_counter()
_T0_AGE = _process_age_s()


def elapsed_since_start() -> float:
    return _T0_AGE + time.perf_counter() - _T0_PERF


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """What one run shares between the harness and its workload."""

    def __init__(self, work: str, out: str, seed: int, tracer):
        self.work = work
        self.out = out
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.app_id = None
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.failures: list[str] = []
        self.check_s = 0.0

    def run_op(self, kind: str, layer: str, build, action=None):
        """Time one operation: ``build()`` calls into the engine's public
        function, ``action(result)`` materialises the result on the driver.
        The latency runs from the call until the rows are here."""
        tr = self.tracer
        if tr is not None:
            tr.begin_op(kind, layer)
        t0 = time.perf_counter()
        try:
            out = build()
            if tr is not None:
                tr.mark("built")
            if action is not None:
                out = action(out)
        except Exception as exc:
            # A failed operation is counted, not timed; the run goes on.
            if tr is not None:
                tr.mark("built")
                tr.end_op()
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        t2 = time.perf_counter()
        if tr is not None:
            tr.end_op()
        self.records.append({"kind": kind, "latency": t2 - t0})
        return out

    def check(self, reason: str | None, what: str) -> None:
        if reason is not None:
            self.errors.append(f"{what}: {reason}")


def _setup_environment(work: str, out: str, trace: bool) -> int:
    """Point every scratch path of Spark and of this process into the run's
    work directory, and turn the event log on for a traced run. Must run
    before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(out, "eventlog"))
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(out, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
        + " pyspark-shell"
    )
    return cpus


def _redirect_scratch(work: str) -> None:
    """The engine keeps query scratch files under /tmp/iceberg_insert_spark;
    move the ones it names through patchable module attributes into the
    work directory. Runs before the query modules import them."""
    from iceberg_insert_spark import tables
    from iceberg_insert_spark.operators import joins

    prefix = "/tmp/iceberg_insert_spark"
    base = os.path.join(work, "scratch")
    orig = tables.scratch_dir

    def scratch_dir(spark, sf_dir, name):
        d = base + orig(spark, sf_dir, name)[len(prefix):]
        shutil.rmtree(d, ignore_errors=True)
        return d

    scratch_dir.__doc__ = orig.__doc__
    tables.scratch_dir = scratch_dir
    joins.BUCKETED_TABLE_DIR = os.path.join(base, "bucketed")


def _stop_spark(spark) -> float:
    """Stop the session and its JVM, wait for the JVM to end, and return
    its peak resident set in MB."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_mb = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return jvm_mb


def _cleanup_program_tmp(app_id: str | None) -> None:
    """Remove what the engine left under /tmp for this application."""
    if not app_id:
        return
    base = "/tmp/iceberg_insert_spark"
    if os.path.isdir(base):
        for name in os.listdir(base):
            shutil.rmtree(os.path.join(base, name, app_id), ignore_errors=True)
            try:
                os.rmdir(os.path.join(base, name))
            except OSError:
                pass
        try:
            os.rmdir(base)
        except OSError:
            pass


def _by_kind(records: list[dict]) -> dict:
    """Operation count and median latency per operation kind."""
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r["latency"])
    return {k: [len(v), statistics.median(v)] for k, v in sorted(kinds.items())}


def end_to_end(ctx: Context, setup_s: float, round_walls: list[float]) -> dict:
    lat = [r["latency"] for r in ctx.records]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(round_walls), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still cleans up: SystemExit unwinds the finally.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "iceberg_insert_spark", "__init__.py")):
        print(
            "perfbench: iceberg_insert_spark/ not found in the working "
            "directory; run from the root of a checkout of the engine",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]
    import workloads  # noqa: E402  (perfbench/workloads.py)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    out = os.path.join(root, ".perfbench_out", run_id)
    os.makedirs(out)
    cpus = _setup_environment(work, out, bool(args.trace))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    _redirect_scratch(work)
    if tracer is not None:
        tracer.install()

    ctx = Context(work, out, args.seed, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    prev_cwd = os.getcwd()
    os.chdir(work)
    try:
        wl.setup()
        parallelism = ctx.spark.sparkContext.defaultParallelism
        setup_s = elapsed_since_start()
        round_walls: list[float] = []
        t_run = time.perf_counter()
        # Whole rounds only, so every run attempts the same operations;
        # a next round starts only if it should end within --seconds.
        while True:
            c0 = ctx.check_s
            r0 = time.perf_counter()
            wl.round(len(round_walls))
            round_walls.append(time.perf_counter() - r0 - (ctx.check_s - c0))
            spent = time.perf_counter() - t_run
            if spent + statistics.mean(round_walls) > args.seconds:
                break
        # Before the final check: DuckDB runs in this process.
        py_mb = _vm_hwm_mb(os.getpid())
        c0 = time.perf_counter()
        wl.check()
        ctx.check_s += time.perf_counter() - c0
    finally:
        os.chdir(prev_cwd)
        try:
            jvm_mb = _stop_spark(ctx.spark) if ctx.spark is not None else 0.0
        finally:
            _cleanup_program_tmp(ctx.app_id)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    attempted = len(ctx.records) + len(ctx.failures)
    if args.trace:
        metrics = wl.layer_metrics(len(round_walls), round_walls)
        metrics["memory.python_peak_mb"] = (py_mb, "MB")
        metrics["memory.jvm_peak_mb"] = (jvm_mb, "MB")
        tracer.dump(os.path.join(out, "spans.jsonl"))
    else:
        metrics = end_to_end(ctx, setup_s, round_walls)
    for err in ctx.failures:
        print(f"perfbench: operation failed: {err}", file=sys.stderr)
    for err in ctx.errors:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    result = {
        "correct": not ctx.errors,
        "attempted": attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(
            {**result, "workload": args.workload, "seed": args.seed,
             "trace": args.trace, "cpus": cpus,
             "defaultParallelism": parallelism, "rounds": len(round_walls),
             "check_s": ctx.check_s, "python_peak_mb": py_mb,
             "jvm_peak_mb": jvm_mb, "errors": ctx.errors,
             "failures": ctx.failures,
             "latency_by_kind": _by_kind(ctx.records),
             "jobs_per_op": getattr(tracer, "op_jobs", None)},
            f, indent=1,
        )
    print(f"perfbench: workload={args.workload} cpus={cpus} "
          f"defaultParallelism={parallelism} rounds={len(round_walls)} "
          f"operations={attempted}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
