"""The two workloads, their output checks and their per-layer probes.

Each workload is a closed loop with one client calling the package's public
API.  Every timed call sits in a span named after the module it enters
(see spans.LAYERS); the end-to-end metrics come from those spans' CPU
times, and the traced run adds the status-store figures of the same spans.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import Tracer

from cascading_solr_spark.analyzer import analyze_query, tokenize
from cascading_solr_spark.codec import bm25_idf
from cascading_solr_spark.indexing import (
    Index, append_documents, build_index, delete_documents,
)
from cascading_solr_spark.indexing.compact import compact_index
from cascading_solr_spark.operators import dedup
from cascading_solr_spark.query import bm25_topk_df, search, search_many
from cascading_solr_spark.query.search import search_phrase, term_dfs
from cascading_solr_spark.query.wand import maxscore_kernel
from cascading_solr_spark.spec import IndexSpec

K = 10
SETUP_REPEATS = 3

#: query workload: base corpus rows, batch size, OR requests checked
QUERY_DOCS = 1000
BATCH_SIZE = 32
BATCH_EVERY = 10
NAIVE_CHECKS = 2
#: seconds of untimed requests before the timed loop
WARM_S = 6
#: the timed loop runs one block of 20 single requests (one full mix, see
#: gen.FORM_BLOCK) and 2 batches per BLOCK_S seconds of --seconds, which is
#: about what a block takes on a 4-vCPU host
BLOCK_CALLS = 22
BLOCK_S = 12

#: ingest workload: base corpus rows, files per append (of them planted
#: near-duplicates), ids per delete, seconds of --seconds per cycle (a
#: cycle takes about 15 s on a 4-vCPU host, and the dedup pass and the
#: compaction about 15 s more), fresh handles read after each write
INGEST_DOCS = 500
APPEND_FILES = 60
PLANTED = 6
DELETE_IDS = 10
CYCLE_S = 15
FRESH_READS = 3

#: per-layer metrics the probes measure (mean over probes): name -> unit
PROBE_UNITS = {
    "indexing.build.index_bytes": "B",
    "indexing.build.files_written": "count",
    "indexing.build.lineage_skew_max": "ratio",
    "analyzer.tokenize_mb_per_s": "MB/s",
    "query.scan_ms": "ms",
    "wand.kernel_ms": "ms",
    "wand.blocks_decoded": "count",
    "wand.blocks_skipped": "count",
    "index.load_ms": "ms",
    "index.dict_cache_ms": "ms",
    "index.postings_files": "count",
    "indexing.append.bytes_written_per_input_byte": "ratio",
    "indexing.compact.bytes_rewritten": "B",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
}


class Run:
    """State of one benchmark run: inputs, tracer, operation outcomes and
    the per-layer figures the probes gather."""

    def __init__(self, spark, work: Path, seed: int, seconds: int,
                 traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer(spark, traced)
        self.cpus = spark.sparkContext.defaultParallelism
        self.attempted = 0
        self.failed: set[int] = set()
        self.probes: dict[str, list[float]] = {}
        self.e2e: dict[str, float] = {}
        self.t0 = time.perf_counter()

    def op(self, name: str, **attrs):
        """Span for one client operation, counted as attempted."""
        self.attempted += 1
        return self.tracer.span(name, op=self.attempted, **attrs)

    def fail(self, op: int, why: str) -> None:
        self.failed.add(op)
        print(f"[perfbench] op {op} failed: {why}", file=sys.stderr)

    def log(self, what: str) -> None:
        print(f"[perfbench] {time.perf_counter() - self.t0:7.1f} s  {what}",
              file=sys.stderr, flush=True)

    def probe(self, name: str, value: float) -> None:
        self.probes.setdefault(name, []).append(float(value))

    def layer_metrics(self) -> dict[str, dict]:
        out = self.tracer.layer_metrics()
        for name, unit in PROBE_UNITS.items():
            vals = self.probes.get(name)
            out[name] = {"value": statistics.mean(vals) if vals else 0.0,
                         "unit": unit}
        return out


# -- shared steps ------------------------------------------------------------


def _write_parquet(df: pd.DataFrame, out: Path, parts: int) -> Path:
    out.mkdir(parents=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), parts)):
        pq.write_table(pa.Table.from_pandas(df.iloc[chunk], preserve_index=False),
                       out / f"part-{i:03d}.parquet")
    return out


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _bytes_written(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def build_base(run: Run, name: str, n_rows: int, spec: IndexSpec):
    """Generate the seeded base corpus, build its index (timed) and check
    that every stored document hashes like its source row."""
    run.log("generate")
    rows = gen.corpus(run.seed, 0, n_rows)
    run.log("build")
    src = run.spark.read.parquet(
        str(_write_parquet(rows, run.work / f"corpus_{name}", run.cpus)))
    out = str(run.work / f"ix_{name}")
    with run.op("indexing.build", form=name) as sp:
        ix = build_index(run.spark, src, spec, out)
    stored = ix.docs(run.spark).select("repo", "path", "commit", "sha256").toPandas()
    got = {(r.repo, r.path, r.commit): r.sha256 for r in stored.itertuples()}
    want = gen.sha256_by_key(rows)
    if ix.n_docs != n_rows or got != want:
        bad = sum(got.get(k) != v for k, v in want.items())
        run.fail(sp["op"], f"build: n_docs {ix.n_docs} of {n_rows}, "
                 f"{bad} rows missing or with another sha256")
    files = _files(out)
    index_bytes = sum(sz for sz, _ in files.values())
    run.e2e["index_bytes_per_input_byte"] = index_bytes / gen.input_bytes(rows)
    if run.traced:
        run.probe("indexing.build.index_bytes", index_bytes)
        run.probe("indexing.build.files_written", len(files))
        run.probe("indexing.build.lineage_skew_max", ix.lineage(run.spark)
                  .agg(F.max("skew_ratio")).collect()[0][0] or 0.0)
        text = rows["content"].tolist()
        t0 = time.perf_counter()
        for t in text:
            tokenize(t)
        run.probe("analyzer.tokenize_mb_per_s",
                  sum(map(len, text)) / 1e6 / (time.perf_counter() - t0))
    run.log("dictionary")
    dict_df = ix.term_dict(run.spark).toPandas()
    picker = gen.TermPicker(dict_df, ix.n_docs, rows)
    return ix, rows, picker


def _ranked_ok(rows: list) -> bool:
    """At most K rows, in descending score order when scores are returned."""
    scores = [r["score"] for r in rows if "score" in r.__fields__]
    return len(rows) <= K and scores == sorted(scores, reverse=True)


def _same_ranking(got: list, want: list) -> bool:
    """Equal scores rank for rank; ids may differ only among docs tied
    with the last kept score."""
    if len(got) != len(want):
        return False
    tol = lambda s: 1e-9 * max(1.0, abs(s))  # noqa: E731
    if any(abs(a["score"] - b["score"]) > tol(b["score"])
           for a, b in zip(got, want)):
        return False
    if not want:
        return True
    last = want[-1]["score"]
    head = lambda rs: {r["doc_id"] for r in rs  # noqa: E731
                       if abs(r["score"] - last) > tol(last)}
    return head(got) == head(want)


def replay_decomposition(run: Run, ix: Index, queries: list[str]) -> None:
    """Split ranked queries into postings scan and MaxScore kernel time by
    replaying them from outside: the pruned scan is collected to the
    driver and the kernel runs there per shard, with its block counters."""
    spec = ix.spec
    for q in queries:
        dfs = term_dfs(run.spark, ix, analyze_query(q))
        if not dfs:
            continue
        idf = {t: bm25_idf(v, ix.n_docs) for t, v in dfs.items()}
        t0 = time.perf_counter()
        pdf = ix.postings(run.spark).filter(F.col("term").isin(list(dfs))).toPandas()
        run.probe("query.scan_ms", (time.perf_counter() - t0) * 1e3)
        counters: dict = {}
        kernel = maxscore_kernel(idf, ix.avgdl, spec.k1, spec.b, K,
                                 spec.block_size, counters=counters)
        t0 = time.perf_counter()
        for _, shard in pdf.groupby("shard"):
            kernel(shard.reset_index(drop=True))
        run.probe("wand.kernel_ms", (time.perf_counter() - t0) * 1e3)
        run.probe("wand.blocks_decoded", counters.get("blocks_decoded", 0))
        run.probe("wand.blocks_skipped", counters.get("blocks_skipped", 0))


def _loop_metrics(run: Run) -> None:
    """CPU time of the whole run's processes (this one, the Spark JVM and
    its Python workers), which the host's other tenants move far less than
    wall time.  ``read_cpu_ms`` is the mean over the single ranked reads,
    ``cpu_ms_per_op`` the mean over every timed client call after the base
    build."""
    ops = [s for s in run.tracer.spans
           if "op" in s and s["name"] != "indexing.build"]
    run.e2e["read_cpu_ms"] = statistics.mean(
        run.tracer.cpus("query.search")) * 1e3
    run.e2e["cpu_ms_per_op"] = sum(s["cpu_s"] for s in ops) / len(ops) * 1e3


def _guarded(run: Run, span, fn):
    """Run one operation; an exception fails it instead of the run."""
    try:
        return fn()
    except Exception:  # an operation boundary: record, count, go on
        run.fail(span["op"], traceback.format_exc())
        return None


# -- query -------------------------------------------------------------------


def _single(run: Run, ix: Index, req: dict) -> list:
    q = req["q"]
    if req["form"] == "phrase":
        df = search_phrase(run.spark, ix, q, k=K, with_stored=False)
    elif req["form"] == "stored":
        df = search(run.spark, ix, q, k=K, fl=["path", "lang"])
    else:
        df = search(run.spark, ix, q, k=K, with_stored=False,
                    op="AND" if req["form"] == "and" else "OR",
                    filters=req.get("filters"))
    return df.collect()


def _batch_request(req: dict):
    if req["form"] == "phrase":
        return req["q"]
    out = {"q": req["q"]}
    if req["form"] == "and":
        out["op"] = "AND"
    if "filters" in req:
        out["filters"] = req["filters"]
    return out


def _stream(picker, rng):
    """Endless seeded client stream: ``(n, request, None)`` for a single
    request, ``(n, None, batch)`` for every BATCH_EVERY-th call."""
    single_forms, batch_forms = gen.forms(rng), gen.forms(rng)
    n = 0
    while True:
        n += 1
        if n % BATCH_EVERY == 0:
            yield n, None, {f"b{i}": _batch_request(gen.request(
                picker, *next(batch_forms), rng)) for i in range(BATCH_SIZE)}
        else:
            yield n, gen.request(picker, *next(single_forms), rng), None


def query_workload(run: Run) -> None:
    spec = IndexSpec(num_shards=run.cpus, keyword_fields=("lang",),
                     positions=True)
    ix, rows, picker = build_base(run, "query", QUERY_DOCS, spec)
    rng = np.random.default_rng([run.seed, 1])
    warm = {"form": "or", "q": " ".join(picker.terms(rng))}
    run.log("setup")
    for _ in range(SETUP_REPEATS):
        with run.tracer.span("setup"):
            handle = Index.load(ix.path)
            handle.dict_cache(run.spark)
            _single(run, handle, warm)
    # the first call of each form compiles its plans, and the JVM keeps
    # compiling for a while after: run a stream of its own, untimed
    run.log("warm-up")
    deadline = time.perf_counter() + WARM_S
    for form in ("stored", "and", "filter", "phrase"):
        _single(run, handle, gen.request(picker, form, False, rng))
    search_many(run.spark, handle, {"w": warm["q"]}, k=K).collect()
    for _, req, reqs in _stream(picker, np.random.default_rng([run.seed, 3])):
        if time.perf_counter() >= deadline:
            break
        if reqs is None:
            _single(run, handle, req)
        else:
            search_many(run.spark, handle, reqs, k=K).collect()

    run.log("timed loop")
    checked: list[tuple[str, list, int]] = []
    calls = max(1, run.seconds // BLOCK_S) * BLOCK_CALLS
    for n, req, reqs in itertools.islice(_stream(picker, rng), calls):
        if reqs is not None:
            with run.op("query.search_many", request=n, form="batch") as sp:
                out = _guarded(run, sp, lambda: search_many(
                    run.spark, handle, reqs, k=K).collect())
            if out is not None:
                per_q: dict[str, list] = {}
                for r in out:
                    per_q.setdefault(r["query_id"], []).append(r)
                if not set(per_q) <= set(reqs) or not all(
                        _ranked_ok(v) for v in per_q.values()):
                    run.fail(sp["op"], "batch: malformed result")
            continue
        with run.op("query.search", request=n, form=req["form"]) as sp:
            out = _guarded(run, sp, lambda: _single(run, handle, req))
        if out is None:
            continue
        if not _ranked_ok(out):
            run.fail(sp["op"], f"{req}: not a ranked top-{K}")
        if req["form"] == "or":
            checked.append((req["q"], out, sp["op"]))


    # outside the timed loop: OR requests against the pure-DataFrame BM25
    run.log(f"check ({run.attempted} calls)")
    ids = ix.docs(run.spark).select("doc_id", "repo", "path", "commit").toPandas()
    docs = run.spark.createDataFrame(
        ids.merge(rows, on=["repo", "path", "commit"])[["doc_id", "content"]])
    pick = rng.choice(len(checked), size=min(NAIVE_CHECKS, len(checked)),
                      replace=False)
    for i in sorted(int(p) for p in pick):
        q, got, op = checked[i]
        want = bm25_topk_df(docs, q, k=K, content_col="content",
                            round_to=None).collect()
        if not _same_ranking(got, want):
            run.fail(op, f"OR {q!r}: ranks differ from bm25_topk_df")
    if run.traced:
        run.log("probes")
        run.probe("index.postings_files", len(_files(handle.postings_path)))
        replay_decomposition(run, handle, [checked[int(i)][0] for i in pick])

    _loop_metrics(run)


# -- ingest ------------------------------------------------------------------


def _survivors(n: int, pairs: list[tuple[int, int]]) -> list[int]:
    """Rows drop_near_duplicates must keep: the smallest id of every
    connected component of the pair graph."""
    root = list(range(n))

    def find(x: int) -> int:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    return [i for i in range(n) if find(i) == i]


def _dedup_input(spark, crawl: pd.DataFrame):
    """The incoming files as ``(doc_id, text)``, ids being row positions."""
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(len(crawl)), "text": crawl["content"].to_numpy()}))


def _dedup(run: Run, crawl: pd.DataFrame, planted) -> list[int]:
    """Near-duplicate detection on the incoming files; returns kept rows."""
    spark = run.spark
    text = _dedup_input(spark, crawl)
    with run.op("operators.dedup.minhash_lsh_pairs") as sp:
        pairs = _guarded(run, sp, lambda: [
            (r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(
                text, "text", threshold=0.5, id_mode="hash").collect()]) or []
    if not {(o, c) for o, c, _ in planted} <= set(pairs):
        run.fail(sp["op"], f"minhash missed planted pairs: {planted} / {pairs}")
    with run.op("operators.dedup.simhash_near_pairs") as sp:
        spairs = _guarded(run, sp, lambda: {
            (r["doc_a"], r["doc_b"]) for r in dedup.simhash_near_pairs(
                text, "text", max_hamming=1, id_mode="hash").collect()})
    if spairs is not None and not {(o, c) for o, c, e in planted if e} <= spairs:
        run.fail(sp["op"], "simhash missed planted exact copies")
    pairs_df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    expected = _survivors(len(crawl), pairs)
    with run.op("operators.dedup.drop_near_duplicates") as sp:
        kept = _guarded(run, sp, lambda: sorted(
            r["doc_id"] for r in dedup.drop_near_duplicates(
                text.select("doc_id"), pairs_df).collect()))
    if kept != expected:
        run.fail(sp["op"], "drop_near_duplicates kept the wrong rows")
    if run.traced:
        run.probe("operators.dedup.verified_pairs", len(pairs))
    return expected


def _reads(run: Run, handle: Index, q: str, deleted: set[int],
           form: str) -> None:
    """Read a write back: once on the handle the mutator returned, then on
    FRESH_READS handles loaded afresh, as new readers would; all start
    cold."""
    for h in (handle,) + (None,) * FRESH_READS:
        with run.op("query.search", form=form) as sp:
            out = _guarded(run, sp, lambda: search(
                run.spark, h or Index.load(handle.path), q, k=K,
                with_stored=False).collect())
        if out is not None and (not _ranked_ok(out)
                                or deleted & {r["doc_id"] for r in out}):
            run.fail(sp["op"], f"read {q!r} {form}: deleted or unranked rows")
    if run.traced:
        run.probe("index.postings_files", len(_files(handle.postings_path)))
        t0 = time.perf_counter()
        fresh = Index.load(handle.path)
        t1 = time.perf_counter()
        fresh.dict_cache(run.spark)
        run.probe("index.load_ms", (t1 - t0) * 1e3)
        run.probe("index.dict_cache_ms", (time.perf_counter() - t1) * 1e3)


def ingest_workload(run: Run) -> None:
    spark = run.spark
    spec = IndexSpec(num_shards=run.cpus, keyword_fields=("lang",))
    ix, rows, picker = build_base(run, "ingest", INGEST_DOCS, spec)
    pristine = run.work / "ingest_pristine"
    shutil.copytree(ix.path, pristine)
    ids = ix.docs(spark).select("doc_id", "repo", "path", "commit").toPandas()
    content = ids.merge(rows, on=["repo", "path", "commit"]).set_index(
        "doc_id")["content"]
    rng = np.random.default_rng([run.seed, 2])
    warm_q = " ".join(picker.terms(rng))
    run.log("setup")
    for _ in range(SETUP_REPEATS):
        with run.tracer.span("setup"):
            shutil.rmtree(ix.path)
            shutil.copytree(pristine, ix.path)
            handle = Index.load(ix.path)
            search(spark, handle, warm_q, k=K, with_stored=False).collect()
    cycles = max(1, run.seconds // CYCLE_S)
    crawl, planted = gen.plant_duplicates(
        gen.corpus(run.seed, INGEST_DOCS, cycles * APPEND_FILES),
        cycles * PLANTED, rng)
    run.log("timed loop: dedup")
    with run.tracer.span("ingest.dedup", request=0):
        kept = _dedup(run, crawl, planted)
    deleted: set[int] = set()
    total = ix.n_docs
    for c, part in enumerate(np.array_split(np.array(kept), cycles)):
        run.log(f"cycle {c}")
        new = crawl.iloc[part][gen.CORPUS_COLUMNS]
        with run.tracer.span("ingest.cycle", request=c + 1):
            before = _files(ix.path) if run.traced else None
            with run.op("indexing.append") as sp:
                handle = _guarded(run, sp, lambda: append_documents(
                    spark, ix.path, spark.createDataFrame(new))) or handle
            if handle.n_docs != total + len(new):
                run.fail(sp["op"], f"append: n_docs {handle.n_docs}, "
                         f"expected {total + len(new)}")
            total = handle.n_docs
            if run.traced:
                run.probe("indexing.append.bytes_written_per_input_byte",
                          _bytes_written(before, _files(ix.path))
                          / gen.input_bytes(new))
            q = " ".join(picker.doc_terms(new["content"].iloc[
                int(rng.integers(len(new)))], rng))
            _reads(run, handle, q, deleted, "after_append")
            doomed = rng.choice(sorted(set(range(INGEST_DOCS)) - deleted),
                                size=DELETE_IDS, replace=False)
            with run.op("indexing.delete") as sp:
                handle = _guarded(run, sp, lambda: delete_documents(
                    spark, ix.path, [int(i) for i in doomed])) or handle
            deleted |= {int(i) for i in doomed}
            q = " ".join(picker.doc_terms(content[int(doomed[0])], rng))
            _reads(run, handle, q, deleted, "after_delete")
        run.log("compact")
    before = _files(ix.path) if run.traced else None
    with run.op("indexing.compact") as sp:
        handle = _guarded(run, sp, lambda: compact_index(spark, handle)) or handle
    # n_docs counts tombstoned documents until a compaction folds them away
    if handle.n_docs != total - len(deleted):
        run.fail(sp["op"], f"compact: n_docs {handle.n_docs}, "
                 f"live {total - len(deleted)}")
    final = search(spark, handle, q, k=K, with_stored=False).collect()
    if deleted & {r["doc_id"] for r in final}:
        run.fail(sp["op"], "compact: a deleted id is returned")
    if run.traced:
        run.log("probes")
        run.probe("indexing.compact.bytes_rewritten",
                  _bytes_written(before, _files(ix.path)))
        # every band-colliding pair: minhash with no Jaccard cut-off
        run.probe("operators.dedup.candidate_pairs", dedup.minhash_lsh_pairs(
            _dedup_input(spark, crawl), "text", threshold=0.0,
            id_mode="hash").count())
        replay_decomposition(run, handle, [q])

    _loop_metrics(run)


WORKLOADS = {"query": query_workload, "ingest": ingest_workload}
