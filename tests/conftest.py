import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cascading_solr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


def executed_plan(df) -> str:
    """Executed physical plan with full metadata strings: ReadSchema and
    PushedFilters truncate at 100 chars by default, which would hide
    trailing columns (pos, boffs_pos) and IN-list terms from assertions."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


@pytest.fixture
def shard_paths(monkeypatch):
    """``shard_paths(read)`` calls ``read()`` on both paths of the ranked
    shard executor (``search._shard_topk``): once as is (a small read runs
    its kernels in the driver) and once with the size budget at 0 (the
    distributed plan).  Returns ``{"driver": (frame, plans),
    "distributed": (frame, plans)}``, where ``plans`` are the executed
    plans of the postings scans the executor ran plus, on the distributed
    path, the plan of the returned frame (which holds that scan), and
    asserts that each read reached the executor and took its path."""
    import importlib

    S = importlib.import_module("cascading_solr_spark.query.search")
    B = importlib.import_module("cascading_solr_spark.query.boolean")
    real = S._shard_topk

    def run(read):
        out = {}
        for path, budget in (("driver", S.LOCAL_SHARD_MAX_POSTINGS),
                             ("distributed", 0)):
            scans: list[str] = []

            def spy(spark, index, matched, *args, **kw):
                scans.append(executed_plan(matched))
                return real(spark, index, matched, *args, **kw)

            S._last_kernel.counters = None
            with monkeypatch.context() as m:
                m.setattr(S, "LOCAL_SHARD_MAX_POSTINGS", budget)
                m.setattr(S, "_shard_topk", spy)
                m.setattr(B, "_shard_topk", spy)
                frame = read()
            assert scans, "the read never reached the shard executor"
            ran_local = S._last_kernel.counters is not None
            assert ran_local == (path == "driver"), path
            if not ran_local:
                scans.append(executed_plan(frame))
            out[path] = (frame, scans)
        return out

    return run
