"""Benchmark of the ingest pipeline and the headline catalog.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py) in this process on
``local[nproc]``, checks its outputs, and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics, whose
timings are CPU seconds (cpu.py), ``--trace 1`` the per-layer ones
from a traced run, whose spans are
written to ``.perfbench_out/``. Everything the run writes stays under
the checkout; its scratch directory is removed at exit. The exit code
is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

from cpu import JVM_OPTS, TICK, machine_cpu_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> int:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{jvm_opts}' pyspark-shell",
    )
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(out, setup_cpu: float) -> dict[str, float]:
    step_medians = [statistics.median(v) for v in out.step_cpu.values()]
    op_cpu = statistics.median(out.cpu)
    return {
        "setup_s": setup_cpu,
        "op_cpu_p50_s": op_cpu,
        "step_cpu_geomean_s": geomean(step_medians),
        "rows_per_cpu_s": statistics.median(out.rows) / op_cpu,
        "bytes_per_row": out.bytes_per_row,
        "ops_ok_ratio": (out.attempted - out.failed) / out.attempted,
    }


def labelled(metrics: dict[str, float], kind: str) -> dict[str, dict]:
    """``{name: {value, unit}}`` with the units BENCHMARK.json declares;
    the names must be exactly the declared ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(metrics) != set(units):
        raise ValueError(
            f"{kind} metrics differ from BENCHMARK.json: "
            f"extra {sorted(set(metrics) - set(units))}, missing {sorted(set(units) - set(metrics))}"
        )
    return {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes; its Python workers follow it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = isolate(work)
    spark = None
    try:
        t, c = time.perf_counter(), machine_cpu_ticks() / TICK
        from usgs_earthquake_data_pipeline_spark.session import get_spark
        from spans import jvm_pid, proc_status_kb

        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]")
        spark.range(1).count()  # the first job starts the executor
        get_spark_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, bool(args.trace))
        # the JIT threads start with the JVM, so all their CPU so far is
        # in the meter's JIT part
        get_spark_cpu = wl.cpu.read()[0] - c
        out = wl.run()
        setup_cpu = get_spark_cpu + out.setup["gen_cpu_s"] + out.setup["warmup_cpu_s"]
        print(
            f"set-up wall s: {get_spark_s:.2f} session, {out.setup['gen_s']:.2f} inputs, "
            f"{out.setup['warmup_s']:.2f} warm-up; work cpu s: {get_spark_cpu:.2f}, "
            f"{out.setup['gen_cpu_s']:.2f}, {out.setup['warmup_cpu_s']:.2f}",
            file=sys.stderr,
        )
        if args.trace:
            metrics = dict(out.layer)
            metrics["session.get_spark_s"] = get_spark_s
            metrics["session.warmup_s"] = out.setup["warmup_s"]
            metrics["session.jvm_peak_rss_mb"] = proc_status_kb(jvm_pid(spark), "VmHWM") / 1024
            trace_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": wl.tracer.records(), "metrics": metrics}, f)
        else:
            metrics = end_to_end(out, setup_cpu)
        report = labelled(metrics, "per_layer" if args.trace else "end_to_end")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    print("ops (wall s / cpu s / jit cpu s): " + " ".join(
        f"{w:.3f}/{c:.2f}/{j:.2f}" for w, c, j in zip(out.walls, out.cpu, out.jit)
    ), file=sys.stderr)
    for problem in out.problems:
        print(f"FAILED: {problem}", file=sys.stderr)
    correct = out.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": report,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
