"""Workload ``index_lifecycle``: incremental ingest into the persisted token
index, compaction, then retrieval.

Set-up builds the index over a seeded base corpus with ``build_token_index``
and runs one untimed append and probe, so code generation and the JIT are
past their first use. The measured phase then:

* folds one new batch after another into the index with
  ``append_token_index_delta`` for the first half of the run time (each
  append is one ingest sample);
* rebases the index with ``compact_token_index``;
* probes for the rest of the time: a probe reads the folded index with
  ``read_token_index``, runs ``bm25_topk_indexed`` for a fixed query set and
  collects.

Every probe must equal the one-shot ``bm25_topk`` over the base corpus and
every batch appended. The workload writes and reads ``versioned_store`` and
touches no tweet code.

The IVF-PQ lifecycle is left out: one pass of it costs about 11 s on four
cores, which the benchmark's time budget cannot hold next to the stream.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

import bench
from gen import documents
from tweetaggregates_spark import versioned_store
from tweetaggregates_spark.operators import text

BASE_DOCS = 1000
BATCH_DOCS = 150
MIN_APPENDS = 3
MIN_PROBES = 2


def _canon(rows) -> list:
    def val(v):
        return round(v, 9) if isinstance(v, float) else v

    return sorted(tuple(val(v) for v in r) for r in rows)


def expected_topk(spark, docs: list, queries) -> list:
    """The one-shot answer every probe must equal."""
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    return _canon(text.bm25_topk(corpus, queries).collect())


def run(ctx) -> dict:
    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    path = os.path.join(ctx.root, "index")
    call = tracer.call

    def batch(i: int) -> list:
        return documents(seed, BASE_DOCS + i * BATCH_DOCS, BATCH_DOCS)

    def append(i: int, docs: list) -> None:
        df = spark.createDataFrame(docs, "doc_id long, text string")
        call("text.append_token_index_delta", text.append_token_index_delta,
             df, path, ingest_id=i + 1)

    def probe() -> list:
        idx = call("text.read_token_index", text.read_token_index, spark, path)
        return call("text.bm25_topk_indexed",
                    lambda: text.bm25_topk_indexed(idx, queries).collect())

    t_setup = time.perf_counter()
    base = documents(seed, 0, BASE_DOCS)
    queries = spark.createDataFrame(base, "doc_id long, text string").filter(
        F.col("doc_id") % 97 == 3
    ).select(F.col("doc_id").alias("query_id"), "text").persist()
    queries.count()
    commit_bases = versioned_store.commit_bases
    if tracer.enabled:
        versioned_store.commit_bases = tracer.wrap("versioned_store.commit_bases", commit_bases)
    try:
        call("text.build_token_index", text.build_token_index,
             spark.createDataFrame(base, "doc_id long, text string"), path)
        appended = batch(0)
        append(0, appended)
        probe()
        setup_s = time.perf_counter() - t_setup

        jobs_before = ctx.jobs.max_job_id() if tracer.enabled else None
        t_measure = time.perf_counter()
        append_s, probe_ms, answers = [], [], []
        i = 1
        while i <= MIN_APPENDS or time.perf_counter() - t_measure < ctx.seconds / 2:
            bench._reset_state(spark)
            docs = batch(i)
            t0 = time.perf_counter()
            append(i, docs)
            append_s.append(time.perf_counter() - t0)
            appended += docs
            i += 1
        call("text.compact_token_index", text.compact_token_index, spark, path)
        while len(probe_ms) < MIN_PROBES or time.perf_counter() - t_measure < ctx.seconds:
            bench._reset_state(spark)
            t0 = time.perf_counter()
            with tracer.span("index.probe"):
                answers.append(probe())
            probe_ms.append((time.perf_counter() - t0) * 1e3)
        wall = time.perf_counter() - t_measure
    finally:
        versioned_store.commit_bases = commit_bases
    index_jobs = ctx.jobs.since(jobs_before) if tracer.enabled else None

    want = expected_topk(spark, base + appended, queries)
    for n, got in enumerate(answers):
        ctx.check(f"probe {n} equals one-shot bm25_topk", lambda got=got: _canon(got) == want)

    metrics = {
        "setup_s": ctx.session_s + setup_s,
        "ingest_p50_ms": statistics.median(append_s) * 1e3,
        "ingest_rows_per_s": BATCH_DOCS * len(append_s) / sum(append_s),
        "query_p50_ms": statistics.median(probe_ms),
    }
    details = {
        "append_ms": [round(x * 1e3, 1) for x in append_s],
        "probe_ms": [round(x, 1) for x in probe_ms],
    }
    layer = _layers(ctx, index_jobs, wall) if tracer.enabled else {}
    return {"metrics": metrics, "layer": layer, "details": details}


def _layers(ctx, jobs: dict, wall: float) -> dict:
    tracer = ctx.tracer

    def med(name, key):
        spans = tracer.named(name)
        return float(statistics.median(s[key] for s in spans)) if spans else 0.0

    out = {}
    for name in ("text.build_token_index", "text.append_token_index_delta",
                 "text.compact_token_index"):
        out[f"{name}_s"] = med(name, "ms") / 1e3
        out[f"{name}.jobs"] = med(name, "jobs")
    out["text.bm25_topk_indexed_ms"] = med("text.bm25_topk_indexed", "ms")
    out["text.bm25_topk_indexed.jobs"] = med("text.bm25_topk_indexed", "jobs")
    out["versioned_store.commit_bases_ms"] = med("versioned_store.commit_bases", "ms")
    out["index.shuffle_write_bytes"] = jobs["shuffle_write_bytes"]
    out["index.executor_run_s"] = jobs["executor_run_ms"] / 1e3
    out["index.driver_bound_fraction"] = 1 - jobs["executor_run_ms"] / 1e3 / (wall * ctx.cores)
    return out
