"""Persisted retrieval-index lifecycle (VERDICT r13 #3):
build/append/compact/read for the BM25 token index, with the
batching-invariance and replay-idempotence pins every other index
family carries."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from tweetaggregates_spark.functions.textstats import tokens
from tweetaggregates_spark.operators import text


def _corpus(spark, n=40):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (
            i,
            " ".join(
                words[(i * (j + 1)) % len(words)] for j in range(3 + i % 5)
            ),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _queries(spark):
    return spark.createDataFrame(
        [(100, "alpha gamma"), (101, "zeta epsilon beta")],
        "query_id LONG, text STRING",
    )


def _rows(df):
    # NULLs first, so a NULL doc id sorts
    return sorted(
        map(tuple, df.collect()),
        key=lambda r: [(v is not None, v) for v in r],
    )


def _index_rows(idx) -> dict:
    return {fam: _rows(getattr(idx, fam)) for fam in idx._fields}


def _jobs(sc, group: str) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """The executed plan before any stage runs (AQE's initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(df) -> int:
    # a bare ``Exchange`` node; BroadcastExchange / ReusedExchange are
    # not shuffles
    return len(re.findall(r"(?<![A-Za-z])Exchange ", _plan(df)))


def test_two_batch_ingest_equals_one_shot(spark, tmp_path):
    """Batching invariance: build(evens) + append(odds) + compact
    reads back stats identical to a one-shot build over everything —
    and the indexed scorer is bit-equal to the scan-per-call scorer
    over the full corpus. A probe over the compacted index shuffles
    only for the (query, doc) score sum and the top-k window: query
    terms are cut per query row, and the one-part df/stats fold is
    read as stored."""
    docs = _corpus(spark)
    root = str(tmp_path / "tok")
    text.build_token_index(docs.filter(F.col("doc_id") % 2 == 0), root)
    text.append_token_index_delta(
        docs.filter(F.col("doc_id") % 2 == 1), root, ingest_id=1
    )
    idx = text.read_token_index(spark, root)
    oneshot_root = str(tmp_path / "tok1")
    text.build_token_index(docs, oneshot_root)
    one = text.read_token_index(spark, oneshot_root)
    assert _rows(idx.tf) == _rows(one.tf)
    assert _rows(idx.dl) == _rows(one.dl)
    assert _rows(idx.dft) == _rows(one.dft)
    assert _rows(idx.stats) == _rows(one.stats)
    # scoring: indexed == scan-per-call, before AND after compaction
    q = _queries(spark)
    direct = _rows(text.bm25_topk(docs, q, k=5))
    assert _rows(text.bm25_topk_indexed(idx, q, k=5)) == direct
    text.compact_token_index(spark, root)
    folded = text.read_token_index(spark, root)
    probe = text.bm25_topk_indexed(folded, q, k=5)
    assert _n_shuffles(probe) == 2, _plan(probe)
    assert _rows(probe) == direct


def test_compact_rebases_families(spark, tmp_path):
    """Compaction clears the delta dirs, commits one base per family
    at the newest folded version, and is a read no-op."""
    import os

    docs = _corpus(spark)
    root = str(tmp_path / "tok")
    text.build_token_index(docs.filter(F.col("doc_id") < 20), root)
    text.append_token_index_delta(
        docs.filter(F.col("doc_id") >= 20), root, ingest_id=3
    )
    before = _rows(text.read_token_index(spark, root).dft)
    text.compact_token_index(spark, root)
    for sub in ("tf", "dl", "df", "stats"):
        assert os.listdir(f"{root}/{sub}") == []
        assert os.listdir(f"{root}/{sub}_base") == ["v=3"]
    assert _rows(text.read_token_index(spark, root).dft) == before
    # no deltas -> compact is a no-op, not an error
    text.compact_token_index(spark, root)


def test_below_read_hides_later_ingests(spark, tmp_path):
    """Replay contract: read_token_index(below=N) sees exactly the
    pre-batch index, and a re-delivered append overwrites its own
    version instead of double-counting."""
    docs = _corpus(spark)
    root = str(tmp_path / "tok")
    b1 = docs.filter(F.col("doc_id") < 20)
    b2 = docs.filter(F.col("doc_id") >= 20)
    text.build_token_index(b1, root)
    pre = _rows(text.read_token_index(spark, root).stats)
    text.append_token_index_delta(b2, root, ingest_id=1)
    assert _rows(text.read_token_index(spark, root, below=1).stats) == pre
    full = _rows(text.read_token_index(spark, root).stats)
    # replayed ingest: same version, same rows — idempotent
    text.append_token_index_delta(b2, root, ingest_id=1)
    assert _rows(text.read_token_index(spark, root).stats) == full


def test_lone_delta_equals_one_shot_build(spark, tmp_path):
    """An append into an empty root (no base) reads back equal to a
    one-shot build of the same docs. Both are one-part folds, so their
    df and stats frames are plain scans of what was written."""
    docs = _corpus(spark)
    root = str(tmp_path / "tok")
    text.append_token_index_delta(docs, root, ingest_id=1)
    idx = text.read_token_index(spark, root)
    oneshot_root = str(tmp_path / "tok1")
    text.build_token_index(docs, oneshot_root)
    one = text.read_token_index(spark, oneshot_root)
    for fam in ("tf", "dl", "dft", "stats"):
        assert _rows(getattr(idx, fam)) == _rows(getattr(one, fam)), fam
    for frame in (idx.dft, idx.stats, one.dft, one.stats):
        assert "Exchange" not in _plan(frame), _plan(frame)


def test_one_scan_stats_equal_the_two_scan_values(spark, tmp_path):
    """The stats come from the (doc, token) groups' NULL-token
    sentinels, not a second corpus scan: they must equal the old
    countDistinct(doc_id) / Σ tf, with dl per token-bearing doc only,
    over a NULL text, a separators-only text, a doc id on two rows, a
    NULL doc id, and an empty batch. Build and append each run at most
    8 jobs (11 when stats rescanned the batch)."""
    batch = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, None),
            (3, " ,;. !"),
            (4, "gamma"),
            (4, "beta gamma"),
            (None, "delta"),
        ],
        "doc_id LONG, text STRING",
    )
    tf = (
        batch.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    want = {
        "tf": _rows(tf),
        "dl": _rows(tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))),
        "dft": _rows(tf.groupBy("token").agg(F.count(F.lit(1)))),
        "stats": _rows(
            batch.agg(F.countDistinct("doc_id")).crossJoin(tf.agg(F.sum("tf")))
        ),
    }
    assert want["stats"] == [(4, 7)]
    assert [r[0] for r in want["dl"]] == [None, 1, 4]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("build", "build")
        text.build_token_index(batch, str(tmp_path / "b"))
        sc.setJobGroup("append", "append")
        text.append_token_index_delta(batch, str(tmp_path / "a"), ingest_id=1)
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
    assert _jobs(sc, "build") <= 8
    assert _jobs(sc, "append") <= 8
    for sub in ("b", "a"):
        got = _index_rows(text.read_token_index(spark, str(tmp_path / sub)))
        assert got == want, sub
    empty = batch.limit(0)
    text.build_token_index(empty, str(tmp_path / "eb"))
    text.append_token_index_delta(empty, str(tmp_path / "ea"), ingest_id=1)
    for sub in ("eb", "ea"):
        idx = text.read_token_index(spark, str(tmp_path / sub))
        assert _rows(idx.stats) == [(0, 0)], sub
        assert _rows(idx.dl) == [], sub


def test_append_crash_at_each_step_reads_pre_append_fold(
    spark, tmp_path, monkeypatch
):
    """An append commits through temps, then renames dl, df, stats and
    tf (the commit point). A crash at any of the four renames, or in a
    temp write, leaves the pre-append fold readable; the retry sweeps
    the orphans and equals a one-shot build, and replaying the
    committed ingest changes nothing."""
    docs = _corpus(spark, n=24)
    root = str(tmp_path / "tok")
    text.build_token_index(docs.filter(F.col("doc_id") < 12), root)
    batch = docs.filter(F.col("doc_id") >= 12)
    pre = _index_rows(text.read_token_index(spark, root))

    class Crash(Exception):
        pass

    rename, parquet = os.rename, DataFrameWriter.parquet
    targets = []
    for n in range(1, 5):
        targets.clear()

        def crashing_rename(src, dst, n=n):
            targets.append(os.path.relpath(dst, root))
            if len(targets) == n:
                raise Crash(dst)
            rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(Crash):
            text.append_token_index_delta(batch, root, ingest_id=1)
        monkeypatch.setattr(os, "rename", rename)
        assert _index_rows(text.read_token_index(spark, root)) == pre, n
    assert targets == ["dl/v=1", "df/v=1", "stats/v=1", "tf/v=1"]

    def crashing_parquet(self, path, *args, **kwargs):
        if path.endswith(".compact_stats_tmp"):
            raise Crash(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(Crash):
        text.append_token_index_delta(batch, root, ingest_id=1)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    assert _index_rows(text.read_token_index(spark, root)) == pre

    text.append_token_index_delta(batch, root, ingest_id=1)
    oneshot_root = str(tmp_path / "tok1")
    text.build_token_index(docs, oneshot_root)
    one = _index_rows(text.read_token_index(spark, oneshot_root))
    assert _index_rows(text.read_token_index(spark, root)) == one
    text.append_token_index_delta(batch, root, ingest_id=1)
    assert _index_rows(text.read_token_index(spark, root)) == one


def test_bm25_topk_scans_its_corpus_once(spark, tmp_path):
    """bm25_topk reads its corpus only through the one (doc, token)
    checkpoint: counting parquet scans in the executed plan and in the
    lineage of its checkpointed RDD leaves gives 1 (2 when the stats
    rescanned the corpus for countDistinct)."""
    path = str(tmp_path / "corpus")
    _corpus(spark).write.parquet(path)
    plan = (
        text.bm25_topk(spark.read.parquet(path), _queries(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .inputPlan()
    )
    leaves = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        plan.collectLeaves()
    )
    direct, lineage = 0, {}
    for leaf in leaves:
        kind = leaf.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            direct += 1
        elif kind == "RDDScanExec":
            rdd = leaf.rdd()
            lineage[rdd.id()] = rdd.toDebugString().count("FileScanRDD")
    assert direct + sum(lineage.values()) == 1, plan.toString()
