"""Calibration of the ranked shard executor's size gate
(``query.search.LOCAL_SHARD_MAX_POSTINGS``).

Builds a synthetic index with one shard per CPU, then times warm ranked OR
reads (k=10, no stored fields) of the 1, 2, 4, ..., 64 most frequent
words, whose gate bound — the postings their scan can return, Σ df of
the query terms — spans ~10^4 to ~10^6, on both paths
of the executor: the driver path (budget above the bound) and the
distributed plan (budget 0), interleaved.  Each query runs in two modes:
``maxscore`` (the default kernel, which skips pruned blocks) and ``taat``
(exhaustive: every posting decoded — the cost of AND, min_match and
wildcard reads).  Prints one JSON line per read and mode: the bound, and
per path the median wall time and the median CPU time of this process,
the Spark JVM and its Python workers.

    python bench_shard_gate.py [--docs 40000] [--reps 5]

NOT the graded benchmark (``perfbench/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from pyspark.sql import SparkSession  # noqa: E402
from spans import tree_cpu_s  # noqa: E402

from cascading_solr_spark.corpus import synth_corpus  # noqa: E402
from cascading_solr_spark.indexing.build import build_index  # noqa: E402
from cascading_solr_spark.spec import IndexSpec  # noqa: E402

# the module, not the ``search`` function the package re-exports
S = importlib.import_module("cascading_solr_spark.query.search")


def _timed(spark, ix, q: str, mode: str, budget: int) -> tuple[float, float]:
    S.LOCAL_SHARD_MAX_POSTINGS = budget
    w0, c0 = time.perf_counter(), tree_cpu_s()
    S.search(spark, ix, q, k=10, mode=mode, with_stored=False).collect()
    return time.perf_counter() - w0, tree_cpu_s() - c0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=40_000)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            ix = build_index(
                spark, synth_corpus(spark, args.docs, partitions=cpus),
                IndexSpec(num_shards=cpus), os.path.join(tmp, "ix"),
            )
            dfs = ix.dict_cache(spark)
            common = sorted(
                (t for t in dfs if t.isalpha()), key=lambda t: -dfs[t]
            )
            for n in (1, 2, 4, 8, 16, 32, 64):
                terms = common[:n]
                q = " ".join(terms)
                bound = sum(dfs[t] for t in terms)
                big = bound + 1
                for mode in ("maxscore", "taat"):
                    for budget in (big, 0):  # warm both paths
                        _timed(spark, ix, q, mode, budget)
                    runs: dict[str, list] = {"driver": [], "distributed": []}
                    for rep in range(args.reps):
                        order = [("driver", big), ("distributed", 0)]
                        for path, budget in order[::1 if rep % 2 else -1]:
                            runs[path].append(
                                _timed(spark, ix, q, mode, budget))
                    print(json.dumps({"terms": n, "bound": bound,
                                      "mode": mode, **{
                        path: {
                            "wall_ms": round(1e3 * statistics.median(
                                w for w, _ in r)),
                            "cpu_ms": round(1e3 * statistics.median(
                                c for _, c in r)),
                        }
                        for path, r in runs.items()
                    }}), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
