"""emap_spark benchmark: one command per workload run.

    python3 perfbench/run.py --workload adt_live --seed 1 --seconds 2 --trace 0

Runs one workload (see workloads.py and NOTES.md) on local[nproc],
checks its outputs, and prints as the LAST line of stdout one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics (from spans recorded
around each layer's entry points) with --trace 1. The line before it is
a JSON run record: the EMAP_* / SPARK_GRAFT_* environment, the box
probes from bench.py, cores and driver memory.

Everything the run writes lives under perfbench/.work (removed at exit)
and perfbench/results (run records and span files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DRIVER_MEMORY = "4g"  # get_spark's 16g default exceeds small hosts


def _session(work: str, cores: int):
    from emap_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # no JVM perf-data file under /tmp, for the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _cpu_ticks() -> list[int]:
    """The machine's CPU time split (/proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    spawned) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [REPO, HERE]
    import workloads  # noqa: E402  (needs the repo on sys.path)

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    # everything the JVM, Spark and the engine write stays in the checkout
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    cores = len(os.sched_getaffinity(0))
    ticks0 = _cpu_ticks()
    t_session = time.perf_counter()
    spark = None
    try:
        spark = _session(work, cores)
        ctx = workloads.Context(
            spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            work=work, cores=cores, session_s=time.perf_counter() - t_session,
            t_start=t_session,
        )
        try:
            workloads.WORKLOADS[args.workload](ctx)
        except Exception:
            traceback.print_exc()
            ctx.attempted += 1
            ctx.failed += 1
        ctx.phase("done")
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "driver_memory": DRIVER_MEMORY,
            "env": {k: v for k, v in sorted(os.environ.items())
                    if k.startswith(("EMAP_", "SPARK_GRAFT_"))},
            "box_probe": workloads.box_probes(spark),
            "notes": ctx.notes,
            # CPU time the hypervisor gave to other guests: the host's
            # share of run-to-run noise
            "steal_frac": round(ticks[7] / max(1, sum(ticks)), 4),
        }
        if args.trace:
            ctx.tracer.write(os.path.join(
                HERE, "results", f"trace-{args.workload}-{args.seed}.json"))
        result = {
            "correct": ctx.failed == 0 and ctx.attempted > 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": ctx.layer_metrics if args.trace else ctx.metrics,
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**record, **result}) + "\n")
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
