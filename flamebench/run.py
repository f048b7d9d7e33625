"""Benchmark entry point.

    python3 flamebench/run.py --workload bulk_build|live_update \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds nothing: the program is the
``flame_spark`` package next to this directory, driven through its
public functions. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (and the spans go to a JSONL file under the work
directory). Everything the run writes stays under
``.flamebench_work/`` in the checkout; the run's own subdirectory is
removed at exit, traces are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import ProcSampler, Tracer, descendants, process_start_epoch  # noqa: E402

WORKLOADS = ("bulk_build", "live_update")
#: Spark local threads: at most 3, never more than the CPUs we may use
CPUS = max(1, min(3, len(os.sched_getaffinity(0))))
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(repo_root: str, work: str):
    """SparkSession via the program's own factory, with every scratch
    location inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the run starts (the launcher too) keeps its temp files in
    # the work dir and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from flame_spark.session import get_spark

    return get_spark(
        "flamebench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # C1 only: C2 compilation never pays off within a run this
            # short, and without it the second build is already at
            # steady state (five CLI builds in one JVM on a 4-CPU VM:
            # 16.1, 10.2, 10.0, 9.5, 9.9 s)
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job of a run, so traced job
            # and task counts are complete
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until the JVM and every
    Python worker it started are gone."""
    from pyspark import SparkContext

    pids = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    repo_root = os.getcwd()
    if not os.path.isfile(os.path.join(repo_root, "flame_spark", "__init__.py")):
        print("flamebench: run from the root of a checkout holding the "
              "flame_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, repo_root)
    work_root = os.path.join(repo_root, ".flamebench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_path = os.path.join(
        work_root, "traces",
        f"{args.workload}-s{args.seed}-{int(time.time())}-{os.getpid()}.jsonl",
    )
    spark = None
    try:
        spark = start_spark(repo_root, work)
        import workloads

        tracer = Tracer(spark.sparkContext, bool(args.trace), trace_path)
        ctx = workloads.Context(
            spark=spark, tracer=tracer, proc=ProcSampler(), work=work,
            seed=args.seed, seconds=args.seconds, t_proc=t_proc, cpus=CPUS,
        )
        result = getattr(workloads, args.workload)(ctx)
        tracer.resolve_counts()
        tracer.write()
        if args.trace:
            result["metrics"] = workloads.per_layer(ctx)
        for problem in result.pop("problems"):
            print(f"flamebench: CHECK FAILED: {problem}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
