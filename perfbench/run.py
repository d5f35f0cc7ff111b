"""Benchmark of the cascading_solr_spark public API.

    python3 perfbench/run.py --workload {query,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout (any working directory works: paths are
taken from this file's location).  One process drives Spark on
``local[<cpus>]`` as a closed loop with one client, checks the outputs and
prints, as its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and the
spans are written to ``.perfbench/spans/``.  Everything the run writes stays
under ``.perfbench/`` in the checkout; the scratch part is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TIME_LIMIT_S = 170

#: end-to-end metric -> unit
E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "read_cpu_ms": "ms",
    "cpu_ms_per_op": "ms",
}


def _memory_bytes() -> int:
    limits = []
    try:
        with open("/proc/meminfo") as fh:
            limits.append(int(fh.readline().split()[1]) * 1024)
    except (OSError, ValueError, IndexError):
        pass
    try:
        limits.append(int(Path("/sys/fs/cgroup/memory.max").read_text()))
    except (OSError, ValueError):
        pass
    return min(limits, default=8 << 30)


def make_spark(work: Path):
    """A local session sized to the host: one task slot per CPU, a
    driver heap of a sixth of memory (1 to 4 GiB), scratch under ``work``."""
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(4, _memory_bytes() // 6 // (1 << 30)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        # Python workers import the package from the checkout, not from cwd
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
    })
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_gb}g")
        # compiler threads live as long as the JVM, so spans.tree_cpu_s
        # can leave their CPU time out
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "cascading_solr_spark" / "__init__.py").is_file():
        print(f"perfbench: no cascading_solr_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seed < 0 or args.seconds < 1:
        print("perfbench: --seed must be >= 0 and --seconds >= 1",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)

    out_dir = ROOT / ".perfbench"
    work = out_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = make_spark(work)
    try:
        import workloads

        run = workloads.Run(spark, work, args.seed, args.seconds,
                            traced=bool(args.trace))
        workloads.WORKLOADS[args.workload](run)
        run.log("done; " + run.tracer.summary())
        if args.trace:
            metrics = run.layer_metrics()
            spans = run.tracer.spans
            busy = sum(s["wall_s"] for s in spans if s["parent"] is None)
            metrics["trace.overhead_pct"] = {
                "value": 100 * run.tracer.overhead_s / busy, "unit": "%"}
            metrics["trace.overhead_ms_per_span"] = {
                "value": 1e3 * run.tracer.overhead_s / len(spans), "unit": "ms"}
            spans_dir = out_dir / "spans"
            spans_dir.mkdir(parents=True, exist_ok=True)
            run.tracer.write(spans_dir / f"{args.workload}-seed{args.seed}.jsonl")
        else:
            # set-up = building the base index (once: it costs most of a
            # run) plus opening it ready for the loop (median of several)
            run.e2e["setup_s"] = (run.tracer.walls("indexing.build")[0]
                                  + statistics.median(run.tracer.walls("setup")))
            metrics = {k: {"value": run.e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps({"correct": not run.failed, "attempted": run.attempted,
                      "failed": len(run.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
