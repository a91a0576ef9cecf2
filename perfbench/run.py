"""Benchmark command.

    python3 perfbench/run.py --workload {bulk_build,search_mix} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It builds nothing: the program is the
``graphiti_spark`` package beside this directory. Scratch data (inputs,
stores, Spark local dirs, the event log) goes to ``.perfbench_work/`` in the
checkout and is removed at exit. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("bulk_build", "search_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int, trace: bool):
    # Python workers must import graphiti_spark from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, for the
    # spark-submit launcher JVM here and for the driver JVM below
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms = -Xmx, pre-touched: the whole heap is resident from the start,
        # so the JVM's RSS does not depend on when the collector grows the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    from graphiti_spark.session import get_spark

    # shuffle partitions sized to the cores: the corpus is a few hundred files
    return get_spark("perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM ends when its stdin pipe closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int]) -> float:
    """Hypervisor CPU steal since ``before``, in percent of all CPU time."""
    after = cpu_jiffies()
    return 100 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    cpu0 = cpu_jiffies()
    for need in ("graphiti_spark", os.path.join("tools", "pr_vs_reference.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found in {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench import workloads as wl

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    try:
        with tr.RssSampler() as rss:
            spark = start_spark(work, cores, bool(args.trace))
            try:
                run = wl.Run(spark, work, args.seed, args.seconds, bool(args.trace))
                e2e = wl.WORKLOADS[args.workload](run, t_start)
            finally:
                stop_spark(spark)
        if args.trace:
            run.layer.update(tr.spark_stats(os.path.join(work, "eventlog"),
                                             run.tracer.subtree_groups(run.traced_root)))
            run.layer["trace.spans"] = len(run.tracer.spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    e2e["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    e2e["ok_share"] = (1 - run.failed / run.attempted, "ratio")
    metrics = (
        {k: {"value": run.layer[k], "unit": u} for k, u in wl.PER_LAYER.items()}
        if args.trace else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    )
    print(f"perfbench: {args.workload} seed={args.seed} cores={cores}: op_s is the median "
          f"and op_tail_s the maximum (p100) of {len(run.op_times)} timed operations "
          f"{[round(t, 3) for t in run.op_times]}; cpu steal {steal_pct(cpu0):.1f}%")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
