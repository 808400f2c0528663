"""Persisted retrieval-index lifecycle (VERDICT r13 #3):
build/append/compact/read for the BM25 token index, with the
batching-invariance and replay-idempotence pins every other index
family carries."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

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
    return sorted(map(tuple, df.collect()))


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
