"""Engine benchmark: one workload, one seed, one process on local[nproc].

    python3 perfbench/run.py --workload {build,search} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the workload's own figures under their own names.
Everything the run writes stays under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms",
             "index_bytes_per_doc": "B/doc", "peak_rss_mb": "MB"}


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and
    the Python workers), sampled every ``interval`` seconds. Each
    process counts its proportional set size, so pages the forked
    workers share are counted once."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        from session import process_tree

        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                continue  # the process exited between listing and read
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lucene_solr_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the warm daemon from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # temp files of Python, py4j and Spark (which prefers this variable
    # to spark.local.dir) stay in the run's directory
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")

    import layers
    import workloads
    from session import make_spark, stop_spark
    from spans import Tracer, install

    try:
        run, metrics, units, extra = _measure(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "error_rate": run.failed / max(run.attempted, 1),
                      "setup_s_samples": run.setup_s, **extra, **run.detail}))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _measure(args, work: str, run_dir: str):
    import layers
    import workloads
    from session import make_spark, stop_spark
    from spans import Tracer, install

    rss = RssSampler()
    rss.start()
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = make_spark(run_dir, event_dir)
    start_s = time.perf_counter() - t0
    tracer = Tracer() if args.trace else None
    uninstall = install(tracer) if tracer else None
    try:
        ctx = workloads.Ctx(spark, ROOT, work, run_dir, args.seed,
                            args.seconds, tracer)
        run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if uninstall:
            uninstall()
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
        peak_mb = rss.stop()
    if tracer is None:
        items, secs = run.throughput
        metrics = {
            "setup_s": statistics.median(run.setup_s),
            "ops_per_s": items / secs,
            "p50_ms": statistics.median(run.lat_s[run.latency_kind]) * 1000.0,
            "index_bytes_per_doc": run.bytes_per_doc,
            "peak_rss_mb": peak_mb,
        }
        units = E2E_UNITS
    else:
        metrics = layers.per_layer(run, tracer, event_dir)
        units = layers.UNITS
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    extra = {"peak_rss_mb": peak_mb, "loop_steal_share": run.steal_share,
             "phase_s": {"start": start_s, **run.phase_s, "stop": stop_s}}
    return run, metrics, units, extra


if __name__ == "__main__":
    sys.exit(main())
