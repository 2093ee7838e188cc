"""Repository benchmark: two workloads, end to end and per layer.

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` and removed at exit; ``--trace 1`` also writes its
spans to ``.perfbench_out/``. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the details (seed, host,
versions, input hash, sample counts, generator lag, error rate, and
``host_steal``, the share of CPU time the hypervisor gave to other guests
during the run).
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_share_market_spark"

WORKLOADS = ("dashboard_refresh", "tick_stream")

#: End-to-end metrics: name -> unit. Every workload reports all of them.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "cycle_s": "s",
    "heap_live_mb": "MB",
}

#: Per-layer metrics: name -> unit. Every workload reports all of them;
#: a layer a workload does not use reads 0.
PER_LAYER = {
    "cold.first_result_s": "s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "staging.cold_build_s": "s",
    "staging.cached_bytes": "bytes",
    "staging.families": "count",
    "tables.scan_bytes": "bytes",
    "tables.scan_rows": "count",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "plan.non_codegen_ops": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.offcpu_s": "s",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "stream.batches": "count",
    "stream.batch_s": "s",
    "stream.add_batch_s": "s",
    "stream.plan_s": "s",
    "stream.offsets_s": "s",
    "stream.commit_s": "s",
    "stream.processed_eps": "events/s",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_s": "s",
    "stream.late_dropped": "count",
    "stream.backlog_files_max": "count",
    "stream.backlog_files_end": "count",
    "upsert.target_rows": "count",
    "upsert.rewrite_ratio": "ratio",
    "generator.lag_s": "s",
    "traced.overhead_s": "s",
    "traced.layer_gap_max": "ratio",
}


def percentile(values: list[float], pct: int) -> float:
    """Harrell-Davis estimate of the `pct`-th percentile: a mean of all
    order statistics weighted by a beta(p(n+1), (1-p)(n+1)) density.
    Per-query samples fall into one cluster per query, and a single
    order statistic jumps between clusters from run to run; this
    weighted mean moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    p = pct / 100
    a, b = p * (n + 1), (1 - p) * (n + 1)
    mid = (np.arange(100_000) + 0.5) / 100_000
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n,
                                np.linspace(0.0, 1.0, 100_001), cdf))
    return float(weights @ x)


class Run:
    """One benchmark process: its work directory, Spark session and
    counters. Workload modules fill :attr:`metrics` and :attr:`info`."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tiny = args.tiny
        self.nproc = len(os.sched_getaffinity(0))
        #: Spark task slots: half the cores. The rest go to the JVM's
        #: compiler and collector threads, the Python workers, the client
        #: and the generator; with a slot on every core, a run's timings
        #: spread two to three times as widely on a shared host.
        self.cpus = max(1, self.nproc // 2)
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{self.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.info: dict = {}
        self.spark = None
        self.rss = None
        self.tracer = None

    def prepare_env(self) -> None:
        """Keep Spark's scratch space, Python temp files and the JVM's
        temp dir inside the work directory; silence the progress bar."""
        for sub in ("spark-local", "tmp", "java-tmp"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
        jtmp = os.path.join(self.work, "java-tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={jtmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell")

    def start_spark(self):
        from pyspark import SparkContext

        from big_data_share_market_spark.session import get_spark
        from probe import RssSampler
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cpus=self.cpus)
        self.rss = RssSampler()
        self.rss.start(SparkContext._gateway.proc.pid)
        return self.spark

    def heap_live_mb(self) -> float:
        """JVM heap in use after a full collection: what the session
        holds (cached relations, state stores, sink tables), without the
        garbage a collector has not reclaimed yet. Spark's cleaner
        thread frees broadcast blocks and shuffle state only after a
        collection has found their owners unreachable, and what those
        held is freed by a later collection: the heap shrinks in steps,
        a step about every second. Collections therefore repeat, 0.3 s
        apart, until ten readings in a row (3 s) agree within 1 MB.
        Each reading is the heap pools' usage right after the
        collection, so what running threads (stream triggers) allocate
        afterwards does not count."""
        jvm = self.spark.sparkContext._jvm
        pools = [pool for pool in jvm.java.lang.management.ManagementFactory
                 .getMemoryPoolMXBeans()
                 if str(pool.getType()) == "Heap memory"
                 and pool.getCollectionUsage() is not None]

        def collect() -> float:
            jvm.System.gc()
            return sum(pool.getCollectionUsage().getUsed()
                       for pool in pools) / 2**20

        readings = [collect()]
        while len(readings) < 30 and (len(readings) < 10 or max(
                readings[-10:]) - min(readings[-10:]) > 1):
            time.sleep(0.3)
            readings.append(collect())
        self.info["heap_after_gc_mb"] = [round(r, 1) for r in readings]
        return min(readings)

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for it."""
        from pyspark import SparkContext
        if self.rss is not None:
            self.metrics["session.peak_rss_mb"] = self.rss.stop()
            self.info["peak_rss_mb"] = self.rss.peak_mb
            self.info["peak_rss_processes"] = 1 + self.rss.peak_children
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def versions(self) -> dict:
        import pyspark
        return {"spark": pyspark.__version__,
                "python": platform.python_version()}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found next to "
              f"{os.path.relpath(HERE, ROOT)}/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from probe import cpu_ticks
    stolen0, ticks0 = cpu_ticks()
    run = Run(args)
    run.prepare_env()
    try:
        if run.workload == "tick_stream":
            import stream
            stream.run(run)
        else:
            import batch
            batch.run(run)
    finally:
        try:
            run.stop_spark()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
            parent = os.path.dirname(run.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    stolen1, ticks1 = cpu_ticks()
    run.info["host_steal"] = (stolen1 - stolen0) / max(1, ticks1 - ticks0)
    names = PER_LAYER if run.traced else END_TO_END
    metrics = {name: {"value": float(run.metrics.get(name, 0.0)),
                      "unit": unit} for name, unit in names.items()}
    run.info.update({"workload": run.workload, "seed": run.seed,
                     "nproc": run.nproc, "spark_cpus": run.cpus,
                     "seconds": run.seconds,
                     "trace": int(run.traced), **run.versions(),
                     "error_rate": run.failed / max(run.attempted, 1)})
    print(json.dumps({"info": run.info}, sort_keys=True))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
