"""Round-13 operators: cluster-level split routing (no near-dup pair
may straddle train/test), paned hopping == plain hopping, BM25
retrieval sanity, IVF-PQ tombstone lifecycle (delete / delete-then-
reinsert / compaction folding / below= replay view)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tweetaggregates_spark.operators import cluster, dedup, sampling, text
from tweetaggregates_spark.operators.similarity import (
    append_to_ivf_pq_index,
    build_ivf_pq_index,
    compact_ivf_pq_index,
    delete_from_ivf_pq_index,
    knn_ivf_pq,
    read_ivf_pq_index,
)
from tweetaggregates_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# -- cluster-level splits ----------------------------------------------------


def test_cluster_split_no_pair_straddles(spark):
    """THE leak pin (VERDICT r12 #2): after cluster-level routing, no
    MinHash-LSH candidate pair may land in two different splits — the
    guarantee the per-doc split_docs hash cannot give."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs)
    labeled = cluster.assign_clusters(docs.select("doc_id"), pairs)
    routed = sampling.split_assign(labeled, "cluster_id").select(
        "doc_id", "split"
    )
    a = routed.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "split", "split_a"
    )
    b = routed.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "split", "split_b"
    )
    straddling = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert pairs.count() > 0  # non-vacuous: the corpus has near-dups
    assert straddling.count() == 0


def test_doc_level_split_does_straddle(spark):
    """The hole exists: the per-doc split (split_docs' routing) DOES
    put at least one near-dup pair across splits on this corpus —
    i.e. the cluster-level entry fixes something real."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs)
    routed = sampling.split_assign(docs.select("doc_id"), "doc_id").select(
        "doc_id", "split"
    )
    a = routed.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "split", "split_a"
    )
    b = routed.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "split", "split_b"
    )
    straddling = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert straddling.count() > 0


def test_cluster_split_members_inherit(spark):
    """Every cluster maps to exactly one split value."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs)
    labeled = cluster.assign_clusters(docs.select("doc_id"), pairs)
    routed = sampling.split_assign(labeled, "cluster_id")
    per_cluster = routed.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0


# -- paned hopping -----------------------------------------------------------


def test_paned_hopping_equals_plain(spark):
    """The registered pane path reproduces the plain x10 expansion
    exactly (window set AND counts)."""
    from tweetaggregates_spark.plans import events as ev

    plain = {
        (r.window_time, r.cnt)
        for r in ev.hopping_counts(spark, SF).collect()
    }
    paned = {
        (r.window_time, r.cnt)
        for r in ev.hopping_counts_paned(spark, SF).collect()
    }
    assert paned == plain and len(plain) > 0


# -- BM25 --------------------------------------------------------------------


def test_bm25_registered_shape(spark):
    """The registered entry's structure: every query emits dense ranks
    1..k with non-increasing scores. (Self-retrieval is deliberately
    NOT pinned on this corpus: the synthetic docs share templated
    leading tokens, so the query terms are low-idf and BM25's length
    normalization legitimately ranks shorter matching docs above the
    longer query doc — the distinctive-vocabulary pin below covers
    retrieval semantics.)"""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    queries = docs.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = text.bm25_topk(docs, queries, k=10).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == queries.count()
    for _qid, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        srt = sorted(rows, key=lambda r: r.rank)
        assert all(
            srt[i].bm25 >= srt[i + 1].bm25 for i in range(len(srt) - 1)
        )


def test_bm25_self_retrieval_distinctive_vocab(spark):
    """With distinctive per-doc vocabulary (high-idf terms), a query
    made of a doc's own words retrieves that doc at rank 1."""
    rows = [
        (1, "apple banana cherry date"),
        (2, "elder fig grape honey"),
        (3, "kiwi lemon mango nectar"),
        (4, "olive peach quince rose"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    queries = spark.createDataFrame(
        [(10, "elder fig grape honey"), (11, "kiwi lemon")],
        "query_id LONG, text STRING",
    )
    out = text.bm25_topk(docs, queries, k=4).collect()
    tops = {r.query_id: r.doc_id for r in out if r.rank == 1}
    assert tops == {10: 2, 11: 3}


def test_bm25_idf_downweights_stopwords(spark):
    """A term in every doc contributes ~ln(1+~0.5/N) — near zero; a
    rare term dominates. Pin with a tiny synthetic corpus."""
    rows = [
        (1, "common zebra alpha beta"),
        (2, "common gamma delta epsilon"),
        (3, "common zeta eta theta"),
        (4, "common iota kappa lambda"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    queries = spark.createDataFrame(
        [(100, "common zebra")], "query_id LONG, text STRING"
    )
    out = text.bm25_topk(docs, queries, k=4).collect()
    # doc 1 (has the rare 'zebra') must beat the common-only docs
    top = min(out, key=lambda r: r.rank)
    assert top.doc_id == 1


def test_bm25_identical_docs_tie_bit_equal_ranked_by_doc_id(spark):
    """Two identical documents score bit-equal (exact integer score
    sums), and the tie ranks them by doc_id."""
    rows = [
        (7, "apple banana cherry"),
        (3, "apple banana cherry"),
        (5, "banana split sundae"),
        (9, "grape melon plum"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    queries = spark.createDataFrame(
        [(100, "cherry banana apple")], "query_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in text.bm25_topk(docs, queries, k=4).collect()}
    assert out[3].bm25 == out[7].bm25
    assert (out[3].rank, out[7].rank) == (1, 2)
    assert out[5].bm25 < out[3].bm25 and out[5].rank == 3


# -- IVF-PQ tombstones -------------------------------------------------------


def _mini_corpus(spark, n=64, d=8):
    import math

    rows = [
        (
            i,
            [
                round(math.sin(0.1 * i * (j + 1)), 6)
                for j in range(d)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )


def _codes_ids(idx):
    return {r.neighbor_id for r in idx.codes.select("neighbor_id").collect()}


def test_delete_excludes_codes(spark, tmp_path):
    emb = _mini_corpus(spark)
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    gone = spark.createDataFrame([(3,), (17,)], "vec_id LONG")
    delete_from_ivf_pq_index(gone, root, ingest_id="1")
    idx = read_ivf_pq_index(spark, root)
    ids = _codes_ids(idx)
    assert 3 not in ids and 17 not in ids
    assert len(ids) == 62


def test_delete_then_reinsert_same_ingest_survives(spark, tmp_path):
    """The diff-driven 'changed' path: tombstone + re-append under ONE
    ingest id keeps the re-encoded row (strict < semantics)."""
    emb = _mini_corpus(spark)
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    gone = spark.createDataFrame([(5,)], "vec_id LONG")
    delete_from_ivf_pq_index(gone, root, ingest_id="1")
    changed = emb.filter(F.col("vec_id") == 5).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    append_to_ivf_pq_index(changed, root, ingest_id="1")
    idx = read_ivf_pq_index(spark, root)
    rows5 = idx.codes.filter(F.col("neighbor_id") == 5).collect()
    assert len(rows5) > 0  # reinsert survived its own tombstone
    # and it is the NEW encoding, not the resurrected base row: the
    # negated vector lands on different (subspace, code) assignments
    # under the same quantizers (read with below=1 = the old rows)
    old5 = read_ivf_pq_index(spark, root, below=1).codes.filter(
        F.col("neighbor_id") == 5
    ).collect()
    assert sorted(map(tuple, rows5)) != sorted(map(tuple, old5))


def test_compact_folds_tombstones_result_identical(spark, tmp_path):
    """Reads before and after compaction are identical, and compaction
    physically drops tombstoned rows + the applied tombstone log."""
    import os

    emb = _mini_corpus(spark)
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    gone = spark.createDataFrame([(2,), (9,), (33,)], "vec_id LONG")
    delete_from_ivf_pq_index(gone, root, ingest_id="1")
    queries = emb.filter(F.col("vec_id") < 5)
    before = knn_ivf_pq(
        None, queries, k=3, n_probe=2, index=read_ivf_pq_index(spark, root)
    ).collect()
    compact_ivf_pq_index(spark, root)
    after_idx = read_ivf_pq_index(spark, root)
    after = knn_ivf_pq(None, queries, k=3, n_probe=2, index=after_idx)
    assert sorted(map(tuple, before)) == sorted(map(tuple, after.collect()))
    assert _codes_ids(after_idx) == set(range(64)) - {2, 9, 33}
    # applied tombstones are gone from the new build
    tomb_dirs = [d for d in os.listdir(root) if d.startswith("tombs")]
    assert tomb_dirs == []


def test_below_read_hides_later_tombstones(spark, tmp_path):
    """Replay contract: a trigger re-reading with below=N must not see
    ingest-N deletes (its exact pre-batch view)."""
    emb = _mini_corpus(spark)
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    gone = spark.createDataFrame([(7,)], "vec_id LONG")
    delete_from_ivf_pq_index(gone, root, ingest_id="1")
    pre = read_ivf_pq_index(spark, root, below=1)
    assert 7 in _codes_ids(pre)  # pre-batch view: delete not visible
    post = read_ivf_pq_index(spark, root)
    assert 7 not in _codes_ids(post)


def test_partial_compact_carries_later_tombstones(spark, tmp_path):
    """compact(below=1) must carry the ingest-1 tombstone forward and
    keep applying it to the folded base."""
    emb = _mini_corpus(spark)
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    gone = spark.createDataFrame([(11,)], "vec_id LONG")
    delete_from_ivf_pq_index(gone, root, ingest_id="1")
    compact_ivf_pq_index(spark, root, below=1)
    # the tombstone is later than every folded code, so it still hides
    # vec 11 on a full read...
    assert 11 not in _codes_ids(read_ivf_pq_index(spark, root))
    # ...and is still invisible to the below=1 pre-batch view
    assert 11 in _codes_ids(read_ivf_pq_index(spark, root, below=1))


# -- containment + retrieval contamination (round-13 extras) -----------------


def test_containment_catches_subsumed_short_doc(spark):
    """A short doc embedded verbatim in a long doc: Jaccard is tiny
    (fails the 0.3 near-dup bar) but containment(short->long) = 1.0 —
    the shape the asymmetric join exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, short), (2, filler + " " + short + " " + filler)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []  # symmetric measure misses it
    cont = dedup.ngram_containment_pairs(docs, threshold=0.8).collect()
    assert [(r.doc_contained, r.doc_container, r.containment) for r in cont] == [
        (1, 2, 1.0)
    ]


def test_containment_directed_both_ways_for_copies(spark):
    """Exact copies contain each other: both directions emitted."""
    rows = [(1, "one two three four five"), (2, "one two three four five")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.doc_contained, r.doc_container)
        for r in dedup.ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert got == {(1, 2), (2, 1)}


def test_bm25_contamination_train_side_stats(spark):
    """The contamination entry's index stats come from the TRAIN side
    only: an eval doc never appears as a retrieved neighbor."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = text.bm25_topk(train, queries, k=5).collect()
    assert len(out) > 0
    assert all(r.doc_id % 50 != 0 for r in out)  # only train docs retrieved
    assert all(r.rank <= 5 for r in out)
