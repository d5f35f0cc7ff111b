"""The size gate of the ranked shard executor (``search._shard_topk``).

A small ranked read collects its pruned postings scan and runs the shard
kernels in the driver; a large one plans the distributed
``groupBy("shard").applyInPandas``.  Both run the same kernel on the same
rows, so every ranked entry point must return bit-identical
``(doc_id, score)`` lists on both paths."""

import importlib

import pytest

from cascading_solr_spark.codec import DELETED_TERM
from cascading_solr_spark.corpus import synth_corpus
from cascading_solr_spark.indexing.build import Index, build_index
from cascading_solr_spark.indexing.delete import delete_documents
from cascading_solr_spark.indexing.replicate import snapshot_index
from cascading_solr_spark.query.boolean import search_boolean
from cascading_solr_spark.spec import IndexSpec

# the module, not the ``search`` function the package re-exports
S = importlib.import_module("cascading_solr_spark.query.search")

SPEC = IndexSpec(
    num_shards=3,
    block_size=16,
    keyword_fields=("lang",),
    text_fields=("path",),
    positions=True,
)


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("shardexec")
    return build_index(
        spark, synth_corpus(spark, 240, partitions=4), SPEC, str(root / "ix")
    )


@pytest.fixture(scope="module")
def ix_del(spark, ix, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("shardexec_del") / "ix")
    snapshot_index(ix.path, out)
    top = [r["doc_id"] for r in S.search(
        spark, ix, "parse buffer", k=6, with_stored=False).collect()]
    return delete_documents(spark, out, top[::2] + [0, 5, 17])


def _pairs(df, key=None):
    rows = df.collect()
    if key is None:
        return [(r["doc_id"], r["score"]) for r in rows]
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append((r["doc_id"], r["score"]))
    return out


def _same_on_both(shard_paths, read, key=None):
    got = shard_paths(read)
    local = _pairs(got["driver"][0], key)
    dist = _pairs(got["distributed"][0], key)
    assert local == dist  # exact: same ids, same order, same float64 bits
    return local


@pytest.mark.parametrize(
    "q, kw",
    [
        ("parse buffer retry", {}),
        ("import parse", {"op": "AND"}),
        ("parse buffer", {"filters": {"lang": "python"}}),
        ("parse buffer retry stream", {"min_match": 2}),
        ("pars* buffer", {}),
        ('"read json"', {}),
        ("parse -json retry7^2", {}),
        ("parse buffer retry", {"start": 4}),
        ("parse buffer retry", {"mode": "taat"}),
    ],
    ids=["or", "and", "filters", "min_match", "wildcard", "phrase",
         "negation_boost", "start", "taat"],
)
def test_search_parity_across_paths(spark, ix, ix_del, shard_paths, q, kw):
    for index in (ix, ix_del):
        hits = _same_on_both(
            shard_paths,
            lambda: S.search(spark, index, q, k=6, with_stored=False, **kw),
        )
        assert hits


def test_deleted_docs_never_returned_on_driver_path(spark, ix_del):
    assert ix_del.has_deletes
    gone = set(ix_del.deleted_ids(spark).toPandas()["doc_id"])
    got = S.search(spark, ix_del, "parse buffer", k=20, with_stored=False)
    assert S._last_kernel.counters is not None
    assert gone and gone.isdisjoint(d for d, _ in _pairs(got))


def test_other_entry_points_parity(spark, ix, ix_del, shard_paths):
    for index in (ix, ix_del):
        assert _same_on_both(shard_paths, lambda: S.search_phrase(
            spark, index, "read json", k=5, with_stored=False, start=1))
        assert _same_on_both(shard_paths, lambda: S.search_dismax(
            spark, index, "parse buffer", {"content": 1.0, "path": 2.0},
            tie=0.1, k=5, with_stored=False))
        page = _same_on_both(shard_paths, lambda: S.search_after(
            spark, index, "parse buffer retry", cursor=None, k=4))
        assert _same_on_both(shard_paths, lambda: S.search_after(
            spark, index, "parse buffer retry", cursor=page[-1][::-1], k=4))
        assert _same_on_both(shard_paths, lambda: search_boolean(
            spark, index, "(parse AND buffer) OR (retry AND NOT json)", k=5))


def test_search_many_parity_across_paths(spark, ix, ix_del, shard_paths):
    batch = {
        "or": "parse buffer retry",
        "and": {"q": "import parse", "op": "AND"},
        "filters": {"q": "parse buffer", "filters": {"lang": "python"}},
        "wildcard": "pars* buffer",
        "phrase": '"read json"',
        "negation": "parse -json",
        "filter_only": {"q": "lang:go"},
        "zero_hit": "zzqx",
    }
    for index in (ix, ix_del):
        got = _same_on_both(
            shard_paths,
            lambda: S.search_many(spark, index, batch, k=4),
            key="query_id",
        )
        assert set(got) == set(batch) - {"zero_hit"}
        assert all(0 < len(v) <= 4 for v in got.values())
        # each entry equals its single-query twin
        assert got["phrase"] == _pairs(S.search(
            spark, index, '"read json"', k=4, with_stored=False))


def _bound(spark, index, terms):
    cache = index.dict_cache(spark)
    return sum(cache.get(t, 0) for t in set(terms)) + (
        index.n_deleted if DELETED_TERM in terms else 0)


def test_gate_budget_boundary(spark, ix_del, monkeypatch):
    """The gate compares the dict-cache df bound of the scan terms (plus
    the tombstones) with the budget: at the bound the read is distributed,
    one posting above it the read runs in the driver."""
    bound = _bound(spark, ix_del, ["parse", "buffer", DELETED_TERM])
    assert bound > ix_del.n_deleted > 0
    for budget, local in ((bound + 1, True), (bound, False), (bound + 1, True)):
        monkeypatch.setattr(S, "LOCAL_SHARD_MAX_POSTINGS", budget)
        S.search(spark, ix_del, "parse buffer", k=5, with_stored=False)
        assert (S._last_kernel.counters is not None) == local


def test_gate_falls_back_without_dict_cache(spark, ix, monkeypatch):
    want = _pairs(S.search(spark, ix, "parse buffer", k=5, with_stored=False))
    assert S._last_kernel.counters is not None
    big = Index.load(ix.path)
    monkeypatch.setattr(big, "dict_cache", lambda spark: None)
    got = S.search(spark, big, "parse buffer", k=5, with_stored=False)
    assert S._last_kernel.counters is None
    assert _pairs(got) == want


def test_gate_keeps_unbounded_reads_distributed(spark, ix):
    S.search(spark, ix, "parse buffer", k=5, with_stored=False)
    assert S._last_kernel.counters is not None
    S.search(spark, ix, "parse buffer", k=None, with_stored=False)
    assert S._last_kernel.counters is None


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_driver_path_read_is_one_job(spark, ix):
    """A warm ranked read on the driver path is the scan's one Spark job:
    the result is a LocalRelation, so collecting it runs none."""
    q = "parse buffer retry"
    S.search(spark, ix, q, k=5, with_stored=False).collect()  # warm handle
    before = _jobs(spark)
    rows = S.search(spark, ix, q, k=5, with_stored=False).collect()
    assert _jobs(spark) - before == 1 and len(rows) == 5
    before = _jobs(spark)
    S.search_many(spark, ix, {"a": q, "b": "import"}, k=5).collect()
    assert _jobs(spark) - before == 1


def test_driver_path_kernel_counters(spark, ix):
    S.search(spark, ix, "parse buffer retry import", k=3, with_stored=False)
    c = S._last_kernel.counters
    assert c["blocks_decoded"] > 0 and c["rows_decoded"] > 0
    S.search_many(spark, ix, {"a": "parse buffer", "b": "import parse"}, k=3)
    assert S._last_kernel.counters["blocks_decoded"] > 0


def test_driver_path_without_arrow_conf(spark, ix):
    """The driver path collects with toArrow and returns an Arrow-built
    LocalRelation, neither of which reads the pyspark Arrow conf."""
    q = "parse buffer retry"
    want = _pairs(S.search(spark, ix, q, k=5, with_stored=False))
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = S.search(spark, ix, q, k=5, with_stored=False)
        assert S._last_kernel.counters is not None
        assert _pairs(got) == want
    finally:
        spark.conf.set(key, old)
