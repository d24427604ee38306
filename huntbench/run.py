"""spark-hunt benchmark: one workload, one seed, one run.

    python3 huntbench/run.py --workload search_cold --seed 1 --seconds 20 --trace 0

Run from the repository root. It stands spark-hunt up from the source
tree beside this directory (a local Spark session, an index built from
seeded inputs, the HTTP server), drives it through public surfaces only
and checks every output against the pure-Python oracles. The last line
of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` the run times the calls into each
layer and reports the per-layer ones. The line before it records the
conditions of the run (cores, driver heap, pyspark version, 1-minute
load average before and after).

Everything the run writes stays under ``.huntbench_work/`` in the
working directory; traced runs leave their span and Spark event logs
in ``.huntbench_work/last/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search_cold", "dedup")


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def hd_median(values: list[float], steps: int = 200) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted average of all order statistics. With the 10-20 samples a
    run of slow operations yields it moves far less than the sample
    median, which jumps between the two middle samples."""
    x = sorted(values)
    n = len(x)
    if n < 3:
        return median(x)
    a = (n + 1) / 2.0
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(t: float) -> float:
        return math.exp((a - 1) * (math.log(t) + math.log(1 - t)) - log_beta)

    est = 0.0
    for i, xi in enumerate(x):
        h = 1.0 / (n * steps)  # midpoint rule over [i/n, (i+1)/n]
        est += xi * h * sum(pdf(i / n + (k + 0.5) * h) for k in range(steps))
    return est


def peak_rss_mb() -> float:
    """Peak RSS of this (driver) Python process; the JVM is a child
    process and is not included."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Run:
    """Per-run state shared by the workloads: arguments, work
    directory, Spark session and tracer, with their shutdown."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.t_start = T_START
        self.work = os.path.join(os.getcwd(), ".huntbench_work", f"run-{os.getpid()}")
        self.keep = os.path.join(os.getcwd(), ".huntbench_work", "last")
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
        self.heap = os.environ.get("HUNT_SPARK_DRIVER_MEM", "3g")
        self.spark = None
        self.procs: list = []
        self.tracer = None
        self.event_dir = None
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # Spark, its Python workers and tempfile all stay in the work dir
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["HUNT_SPARK_DRIVER_MEM"] = self.heap
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        if args.trace:
            from huntbench.trace import Tracer

            self.tracer = Tracer()

    def session(self):
        from hunt_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp"
            f" -Dderby.system.home={self.work}/tmp",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            "huntbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM to exit (the gateway JVM
        exits when its stdin closes)."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None

    def spawn(self, argv: list[str]):
        import subprocess

        p = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.procs.append(p)
        return p

    def close(self) -> None:
        for p in self.procs:
            if p.stdin and not p.stdin.closed:
                p.stdin.close()
            try:
                p.wait(timeout=30)
            except Exception:
                p.kill()
                p.wait()
        if self.tracer is not None:
            self.tracer.close()
        self.stop_spark()
        if self.args.trace:
            # keep the traced run's logs; drop the rest of the work dir
            shutil.rmtree(self.keep, ignore_errors=True)
            os.makedirs(self.keep)
            tag = f"{self.args.workload}-seed{self.args.seed}"
            self.tracer.dump(os.path.join(self.keep, f"spans-{tag}.jsonl"))
            if self.event_dir:
                shutil.move(self.event_dir, os.path.join(self.keep, f"events-{tag}"))
        shutil.rmtree(self.work, ignore_errors=True)


def environment() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "driver_heap": os.environ.get("HUNT_SPARK_DRIVER_MEM", "3g"),
        "pyspark": pyspark.__version__,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "hunt_spark")):
        print(f"huntbench: no hunt_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    load_before = os.getloadavg()[0]
    run = Run(args)
    try:
        if args.workload == "search_cold":
            from huntbench.search_cold import run_search_cold as fn
        else:
            from huntbench.dedup import run_dedup as fn
        result = fn(run)
    finally:
        run.close()
    env = environment()
    env.update(load1_before=load_before, load1_after=os.getloadavg()[0],
               workload=args.workload, seed=args.seed, trace=args.trace)
    print("# run " + json.dumps(env))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
