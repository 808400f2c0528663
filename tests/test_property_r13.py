"""Randomized property pins for the round-13 operators: containment
vs a pure-Python brute force, BM25 scores vs a reference
implementation, and the IVF-PQ tombstone store vs a Python-maintained
survivor set under random delete/reinsert/compact sequences."""

from __future__ import annotations

import math
import random
import re

from pyspark.sql import functions as F

from tweetaggregates_spark.operators import dedup, text
from tweetaggregates_spark.operators.similarity import (
    append_to_ivf_pq_index,
    build_ivf_pq_index,
    compact_ivf_pq_index,
    delete_from_ivf_pq_index,
    knn_ivf_pq,
    read_ivf_pq_index,
)

VOCAB = [f"w{i}" for i in range(30)]


def _toks(s: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


def _shingles(s: str, k: int = 3) -> set[str]:
    t = _toks(s)
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def _rand_corpus(rng, n=30):
    rows = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(3, 25))]
        rows.append((i, " ".join(words)))
    # plant a subsumed short doc and an exact copy so the properties
    # are never vacuous
    rows.append((n, rows[0][1]))
    rows.append((n + 1, " ".join(_toks(rows[1][1])[:6])))
    return rows


def test_containment_matches_bruteforce_random(spark):
    for seed in (7, 19, 23):
        rng = random.Random(seed)
        rows = _rand_corpus(rng)
        docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {
            (r.doc_contained, r.doc_container): (r.n_inter, r.containment)
            for r in dedup.ngram_containment_pairs(
                docs, threshold=0.6
            ).collect()
        }
        sh = {i: _shingles(t) for i, t in rows}
        want = {}
        for a, sa in sh.items():
            for b, sb in sh.items():
                if a == b or not sa:
                    continue
                inter = len(sa & sb)
                c = round(inter / len(sa), 6)
                if c >= 0.6:
                    want[(a, b)] = (inter, c)
        assert got == want, f"seed {seed}"
        assert want  # planted copies guarantee non-vacuity


def _bm25_reference(corpus, queries, k1=1.2, b=0.75, n_terms=8):
    """Pure-Python BM25 with the operator's exact conventions."""
    tf = {}
    dl = {}
    for i, t in corpus:
        toks = _toks(t)
        dl[i] = len(toks)
        for w in toks:
            tf.setdefault(i, {})
            tf[i][w] = tf[i].get(w, 0) + 1
    df = {}
    for i in tf:
        for w in tf[i]:
            df[w] = df.get(w, 0) + 1
    n_docs = len(corpus)
    total = sum(dl.values())
    avgdl = total / n_docs
    out = {}
    for qid, qt in queries:
        toks = _toks(qt)
        seen = {}
        for pos, w in enumerate(toks):
            if w not in seen:
                seen[w] = pos
        terms = sorted(seen, key=lambda w: (seen[w], w))[:n_terms]
        for i in tf:
            s = 0.0
            matched = False
            for w in terms:
                if w not in tf[i]:
                    continue
                matched = True
                idf = math.log(
                    1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5)
                )
                t = tf[i][w]
                s += round(
                    idf
                    * (t * (k1 + 1))
                    / (t + k1 * (1 - b + b * (dl[i] / avgdl))),
                    9,
                )
            if matched:
                out[(qid, i)] = s
    return out


def _rand_queries(rng):
    """Random 6-token queries plus the query-term edge cases: a
    repeated token, more than 8 distinct tokens with a repeat before
    the cut, and queries with no tokens at all."""
    texts = [" ".join(rng.choice(VOCAB) for _ in range(6)) for _ in range(3)]
    few = [rng.choice(VOCAB) for _ in range(4)]
    texts.append(" ".join(few + few[:2]))
    many = rng.sample(VOCAB, 12)
    many.insert(5, many[1])
    texts.append(" ".join(many))
    texts += ["", " ,, !! "]
    return [(100 + j, t) for j, t in enumerate(texts)]


def test_bm25_scores_match_reference_random(spark):
    for seed in (3, 11):
        rng = random.Random(seed)
        corpus = _rand_corpus(rng, n=25)
        queries = _rand_queries(rng)
        n_distinct = [len(set(_toks(t))) for _, t in queries]
        assert any(len(_toks(t)) > len(set(_toks(t))) for _, t in queries)
        assert max(n_distinct) > 8 and min(n_distinct) == 0
        docs = spark.createDataFrame(corpus, "doc_id LONG, text STRING")
        qdf = spark.createDataFrame(queries, "query_id LONG, text STRING")
        got = text.bm25_topk(docs, qdf, k=1000).collect()
        ref = _bm25_reference(corpus, queries)
        for r in got:
            assert (r.query_id, r.doc_id) in ref
            assert abs(ref[(r.query_id, r.doc_id)] - r.bm25) < 1e-5, (
                seed,
                r,
            )
        # every reference match is retrieved (k exceeds corpus size)
        assert len(got) == len(ref), seed


def test_tombstone_store_random_lifecycle(spark, tmp_path):
    """Random delete / reinsert(negated) / partial-compact sequence:
    the surviving code ids always equal a Python-maintained reference,
    and probe results are identical across a mid-sequence compaction."""
    import math as m

    rng = random.Random(42)
    n = 48
    rows = [
        (i, [round(m.sin(0.1 * i * (j + 1)), 6) for j in range(8)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    root = str(tmp_path / "idx")
    build_ivf_pq_index(
        emb, root, n_cells=4, m_subvectors=2, k_codes=8,
        coarse_iters=0, pq_iters=0, encode_residuals=False,
    )
    alive = set(range(n))
    for ingest in (1, 2, 3):
        doomed = sorted(rng.sample(sorted(alive), 6))
        gone = spark.createDataFrame(
            [(i,) for i in doomed], "vec_id LONG"
        )
        delete_from_ivf_pq_index(gone, root, ingest_id=str(ingest))
        alive -= set(doomed)
        # reinsert a random half of the doomed, negated, SAME ingest
        back = sorted(rng.sample(doomed, 3))
        reins = emb.filter(F.col("vec_id").isin(back)).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
        append_to_ivf_pq_index(reins, root, ingest_id=str(ingest))
        alive |= set(back)
        got = {
            r.neighbor_id
            for r in read_ivf_pq_index(spark, root)
            .codes.select("neighbor_id")
            .collect()
        }
        assert got == alive, f"ingest {ingest}"
        if ingest == 2:
            queries = emb.filter(F.col("vec_id") < 5)
            before = sorted(
                map(
                    tuple,
                    knn_ivf_pq(
                        None, queries, k=3, n_probe=2,
                        index=read_ivf_pq_index(spark, root),
                    ).collect(),
                )
            )
            compact_ivf_pq_index(spark, root, below=2)
            after = sorted(
                map(
                    tuple,
                    knn_ivf_pq(
                        None, queries, k=3, n_probe=2,
                        index=read_ivf_pq_index(spark, root),
                    ).collect(),
                )
            )
            assert before == after
