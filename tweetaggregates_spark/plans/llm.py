"""LLM-training-data pipeline queries over ``documents`` / ``embeddings``
(BASELINE.json north star; SURVEY §7 M5).

Each function is a driver-contract query (spark, sf_dir) -> DataFrame
with a DuckDB oracle twin in __spark_entry__.py (multimodal is the one
rows-only exception — its decode is a stub by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweetaggregates_spark.operators import (
    cluster,
    dedup,
    sampling,
    similarity,
    text,
)
from tweetaggregates_spark.operators.multimodal import (
    attach_fake_media,
    attach_synth_media,
    extract_media_meta,
)
from tweetaggregates_spark.sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata documents are all unique; simulate a crawl with
    duplicates by unioning a shifted copy of every 5th doc — makes the
    exact-dedup output non-vacuous and still fully deterministic."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionAll(dups)


def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the dup-augmented corpus: groups with >1 copy."""
    out = dedup.exact_dedup(_docs_with_dups(spark, sf_dir))
    return out.filter(F.col("n_copies") > 1)


def incremental_exact_dedup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental EXACT dedup (operators/dedup.exact_dedup_new_batch):
    the originals are the indexed corpus, the shifted duplicate copies
    arrive as a later ingest batch and fold into the persisted
    content-hash index — min/sum associativity makes the fold
    batching-invariant, so the oracle is exact_dedup_docs' one-shot
    SQL over the combined corpus (the hash gate proves the
    equivalence). Dup groups only, like the one-shot query."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    batch2 = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    index = dedup.exact_dedup(docs)
    _, updated = dedup.exact_dedup_new_batch(batch2, index)
    return updated.filter(F.col("n_copies") > 1)


def minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate near-dup pairs (16 hashes, 4 bands x 4)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


def minhash_lsh_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Giant-cluster-guarded LSH pairs: on normal data (no bucket over
    the cap) identical to minhash_lsh_docs — the quarantine channel only
    activates on pathological clusters (pytest covers that path)."""
    pairs, _quarantine = dedup.minhash_lsh_pairs_capped(
        _docs(spark, sf_dir), max_bucket_size=100
    )
    return pairs


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at >= 0.3."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


def lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM mean log-probability + perplexity
    (operators/text.unigram_logprob_scores) — the model-based quality
    filter of the CCNet/Gopher curation recipe."""
    return text.unigram_logprob_scores(_docs(spark, sf_dir))


def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (adjacent char-pair frequencies
    weighted by word frequency) — the first tokenizer-training
    iteration (operators/text.bpe_merge_candidates)."""
    return text.bpe_merge_candidates(_docs(spark, sf_dir), top_n=20)


def bpe_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE trainer + tokenizer under the oracle gate (round
    12): train 8 merges on the even-doc_id half of the corpus
    (operators/text.bpe_train — the iterative Sennrich loop; the 8
    argmax collects are model state by definition), then tokenize the
    WHOLE corpus with the trained segmentation (bpe_token_counts —
    broadcast vocab lookup; odd-half OOV words take the char-count
    fallback, so the gate also proves the degradation path). The
    DuckDB twin replays all 8 training rounds — pair counts, the
    (count desc, pair asc) argmax, and the exact greedy left-to-right
    non-overlapping merge fold via list_reduce — so the hash match
    certifies the trainer, not just the apply step."""
    docs = _docs(spark, sf_dir)
    _merges, table = text.bpe_train(
        docs.filter(F.col("doc_id") % 2 == 0), n_merges=8
    )
    return text.bpe_token_counts(docs, table)


def substring_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring dedup: pairs sharing a verbatim span of
    >= 8 tokens, with shared-shingle count and longest-span length
    (operators/dedup.substring_dup_pairs; Lee et al.'22 motivation)."""
    return dedup.substring_dup_pairs(_docs(spark, sf_dir), span_tokens=8)


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash fingerprints."""
    return dedup.simhash(_docs(spark, sf_dir))


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE scale pattern for near-dup dedup: cheap LSH candidate
    generation, then exact verification ONLY on candidates — here both
    3-gram Jaccard and Levenshtein distance, joined back to the docs.
    At 100 TB the verify stage touches |candidates| pairs instead of
    |docs|^2."""
    from tweetaggregates_spark.functions.textstats import tokens, word_shingles

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cand = dedup.minhash_lsh_pairs(docs)
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), 3))
    a = docs.select(F.col("doc_id").alias("doc_a"), sh.alias("sh_a"),
                    F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), sh.alias("sh_b"),
                    F.col("text").alias("text_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ).alias("jaccard"),
            F.levenshtein("text_a", "text_b").alias("lev_dist"),
        )
    )


def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id<20."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.knn_bruteforce(emb, queries, k=5)


def knn_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style label-bucketed ANN top-3 for query vectors vec_id<20."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.knn_bucketed(emb, queries, k=3)


def cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at >= 0.4 — all-pairs
    exact baseline, kept as the oracle cross-check."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4)


def cosine_near_dups_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-sign banded near-dup pairs + exact verify on
    candidates — the 100 TB path; equals the all-pairs result here
    (per-pair miss ~5e-6 at the marginal cos=0.4 with w=2/r=24)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs_banded(emb, threshold=0.4)


def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 2 (16-bit) —
    all-pairs exact baseline, kept as the oracle cross-check."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=2)


def simhash_pairs_banded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole band blocking — the 100 TB
    path. Round 4 (VERDICT r3 #2): registered at PRODUCTION-SHAPED
    parameters — 32-bit fingerprints, hamming <= 3, so each of the 4
    bands carries 8 bits (256 buckets/band; the shape that stays flat
    at scale, unlike the 16-bit/64-bucket oracle-economy variant that
    saturated at sf1). Still DuckDB-expressible: the oracle computes
    the same 32-bit fingerprint and verifies via all-pairs hamming.
    The bits=16 twin remains pytest-pinned (recall-1 vs all-pairs)."""
    return dedup.simhash_pairs_banded(
        _docs(spark, sf_dir), bits=32, max_hamming=3
    )


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir))


def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(_docs(spark, sf_dir))


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_fingerprint(_docs(spark, sf_dir))


def media_meta_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata with REAL container-header parsing: docs get
    synthetic payloads carrying valid PNG / JPEG / GIF headers (plus a
    raw-bytes cohort), and extract_media_meta reads width/height from
    the actual header bytes (operators/multimodal.parse_image_dims);
    the checksum-derived fake dims remain only for the unrecognizable
    cohort. The DuckDB twin builds the same blobs and re-parses them
    with hex/substr blob functions — full hash check."""
    return extract_media_meta(attach_synth_media(_docs(spark, sf_dir)))


def media_frames_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided frame sampling over the binary media column — the 1:N
    Arrow expansion (operators/multimodal.sample_frames); every frame
    row is deterministic from the blob bytes, so the DuckDB twin
    reproduces them."""
    from tweetaggregates_spark.operators.multimodal import sample_frames

    return sample_frames(attach_fake_media(_docs(spark, sf_dir)))


def media_waveform_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking + mean-energy features over the binary column
    (operators/multimodal.chunk_waveform) — deterministic synthetic
    codec, every chunk row reproduced by the DuckDB twin."""
    from tweetaggregates_spark.operators.multimodal import chunk_waveform

    return chunk_waveform(attach_fake_media(_docs(spark, sf_dir)))


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster assignment: connected components (hash-min label
    propagation, operators/cluster.py) over the MinHash-LSH pair graph.
    Every doc gets the min doc_id of its transitive near-dup cluster;
    docs in no pair are their own singleton cluster."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs)
    return cluster.assign_clusters(docs.select("doc_id"), pairs).select(
        "doc_id", "cluster_id"
    )


def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run dedup (operators/dedup.build_band_index +
    dedup_new_batch): the corpus arrives as two batches (even doc_ids,
    then odd), the second deduped against the first batch's persisted
    band index only — never recomputing batch 1. Batching-invariance
    makes the accumulated result EQUAL to the one-shot transitive
    closure, so the oracle is dedup_clusters_docs' recursive-CTE twin:
    the hash-match gate proves the incremental path lands on exactly
    the full-recompute clusters."""
    from tweetaggregates_spark.operators import dedup as dd

    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    index = dd.build_band_index(b1)
    _, updated = dd.dedup_new_batch(b2, index)
    labels = updated.select("doc_id", "cluster").distinct()
    return docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster_id"),
    )


def incremental_dedup_delta_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The O(batch) DELTA path under the oracle gate (round 6): the
    odd half dedups against the even half's band index via
    ``dedup_new_batch_delta`` — the production per-ingest pipeline
    whose outputs are the batch's assignments + band rows + remap log,
    never a full-index rewrite. Batching-invariance means each odd
    doc's assigned cluster equals its component min over the COMBINED
    corpus, so the oracle is the one-shot transitive closure
    restricted to the odd docs — the hash gate proves the delta path
    lands on exactly the full-recompute clusters."""
    from tweetaggregates_spark.operators import dedup as dd

    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    index = dd.build_band_index(b1)
    assignments, _, _ = dd.dedup_new_batch_delta(b2, index)
    return assignments


def canonical_docs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup resolution: one kept doc per near-dup cluster (highest
    n_chars, ties to lowest doc_id) with the cluster size."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs)
    return cluster.canonical_docs(
        docs.select("doc_id", "n_chars"), pairs, quality_col="n_chars"
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language data mixture: keep 50% of en, 25% of
    zh, 10% of everything else — hash-keyed, map-only."""
    out = sampling.stratified_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        {"en": 0.5, "zh": 0.25},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


def split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (10/10/80) by doc_id
    hash — stable under re-runs and appends (no split leakage)."""
    return sampling.split_assign(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "split"
    )


def shuffle_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle position (epoch data order) via the
    bucketed two-pass rank — no single-partition window."""
    return sampling.shuffle_order(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "pos"
    )


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: whitespace-token counts,
    budget 2048 tokens per chunk, walked in the deterministic shuffled
    order."""
    toks = text.token_counts(_docs(spark, sf_dir))
    return sampling.pack_sequences(
        toks, "doc_id", "n_ws_tokens", budget=2048
    ).select("doc_id", "start_offset", "chunk_id")


def cosine_near_dups_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-threshold near-dup pairs via block-matmul discovery +
    exact verify — same result as cosine_near_dups, BLAS instead of n²/2
    interpreted folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs_blocked(emb, threshold=0.4)


def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram repetition ratio per doc (Gopher/C4 filter)."""
    return text.repetition_stats(_docs(spark, sf_dir))


def contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 50 != 0)
    sharing a 4-gram with the synthetic eval set (doc_id % 50 == 0).
    Production pipelines use 8-13-grams; k=4 keeps the check
    non-vacuous on this synthetic corpus (19 pairs at sf0.01)."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    return text.contamination_pairs(train, evalset, k=4)


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata documents contain no URLs; append a deterministic
    per-source URL footer to every 3rd doc (same synthesis convention
    as _docs_with_dups) so domain accounting is non-vacuous."""
    docs = _docs(spark, sf_dir)
    footer = F.concat(
        F.col("text"),
        F.lit(" https://"),
        F.col("source"),
        F.lit(".example.com/page/"),
        F.col("doc_id").cast("string"),
    )
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, footer).otherwise(F.col("text")),
    )


def domain_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL accounting over the URL-augmented documents."""
    return text.domain_stats(_docs_with_urls(spark, sf_dir))


def _docs_with_url_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-variant synthesis for the canonicalization entry: every doc
    gets one appended URL; doc_id % 6 picks the raw form. Variants
    0-2 are THE SAME page (group ``doc_id - doc_id % 6``) written
    three ways — host case + www + utm param / default port +
    trailing slash + fbclid / ref param — so canonicalization must
    merge them; 3 exercises fragment + http :80 stripping, 4 query-
    param sorting, 5 the no-query passthrough."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    g = (d - d % 6).cast("string")
    url = (
        F.when(
            d % 6 == 0,
            F.concat(
                F.lit("https://WWW.Example.COM/page/"), g,
                F.lit("?utm_source=x&id=7"),
            ),
        )
        .when(
            d % 6 == 1,
            F.concat(
                F.lit("https://example.com:443/page/"), g,
                F.lit("/?id=7&fbclid=abc"),
            ),
        )
        .when(
            d % 6 == 2,
            F.concat(
                F.lit("https://example.com/page/"), g, F.lit("?ref=tw&id=7")
            ),
        )
        .when(
            d % 6 == 3,
            F.concat(
                F.lit("http://blog.example.org:80/post/"),
                d.cast("string"), F.lit("#frag"),
            ),
        )
        .when(
            d % 6 == 4,
            F.concat(
                F.lit("https://news.example.net/a/"),
                d.cast("string"), F.lit("?b=2&a=1"),
            ),
        )
        .otherwise(F.concat(F.lit("https://example.com/page/"), g))
    )
    return docs.withColumn("text", F.concat(F.col("text"), F.lit(" "), url))


def url_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-canonical-URL keeper over the
    variant-augmented corpus (operators/text.canonical_urls): variants
    0-2 of each 6-group collapse to one canonical page, so the keeper
    column does real work under the gate."""
    return text.canonical_urls(_docs_with_url_variants(spark, sf_dir))


def _docs_with_mixed_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language synthesis: append one stopword-dense Spanish
    (doc_id % 3 == 0) or German (% 3 == 1) sentence as a NEW segment
    (terminal '.' + space ahead of it) so the per-segment language
    pass must detect embedded second languages; every 3rd doc stays
    untouched as the monolingual control."""
    docs = _docs(spark, sf_dir)
    es = F.lit(". el que los se del las por con una su.")
    de = F.lit(". der die das und ist nicht ein eine zu den.")
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), es))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), de))
        .otherwise(F.col("text")),
    )


def dataset_card_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet over the dup-augmented crawl
    (operators/text.dataset_card — the dup synthesis makes dup_rate
    non-zero under the gate)."""
    docs = _docs(spark, sf_dir)
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return text.dataset_card(docs.unionAll(dups))


def quality_calibrated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: keep the top-4/5 of each
    source by quality score with an exact integer rank cut
    (operators/text.quality_calibrated_by_source) — the per-bucket
    thresholding RefinedWeb/CCNet use instead of one global cut."""
    return text.quality_calibrated_by_source(_docs(spark, sf_dir))


def lang_segments_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment language ID + per-doc mixture profile over the
    mixed-language corpus (operators/text.lang_segments): the planted
    foreign sentences must surface as is_mixed segments against the
    document's majority language."""
    return text.lang_segments(_docs_with_mixed_lang(spark, sf_dir))


def cosine_near_dups_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-nested-loop matmul near-dups — the no-driver-collect form
    of cosine_near_dups_blocked (block pairs meet in the shuffle; one
    BLAS matmul per pair)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs_tiled(emb, threshold=0.4)


def normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pass over the documents table."""
    return text.normalize_text(_docs(spark, sf_dir))


def pii_mask_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass over the documents table."""
    return text.pii_mask(_docs(spark, sf_dir))


def vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 corpus vocabulary with term/doc frequencies."""
    return text.vocab_stats(_docs(spark, sf_dir), top_n=200)


def tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by TF-IDF."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3, min_tf=2)


def inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (doc_freq >= 5, first 10 postings per token)."""
    return text.inverted_index(
        _docs(spark, sf_dir), max_postings=10, min_doc_freq=5
    )


def label_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (long form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


def kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=8, 2 iterations, deterministic
    lowest-id init): final (vec_id, cluster, dist) assignment —
    operators/cluster.kmeans; every step replayed by the DuckDB twin."""
    from tweetaggregates_spark.operators.cluster import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(emb, k=8, iters=2)
    return assigned


def semantic_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means clusters, then
    cluster-local cosine near-dup pairs at >= 0.4 —
    operators/cluster.semantic_dup_pairs.

    Registered with the PRODUCTION adaptive-k rule (VERDICT r4 #2):
    k = max(2, ceil(n / 250)) pins cluster size, making pair cost
    O(n x 250) — measured sf1 exponent 0.19 vs 1.30 for fixed k=8
    (SCALE.md). k is a deterministic function of the data, so the
    DuckDB twin replays the same rule (greatest(2, ceil(count/250.0)))
    and the oracle gate now exercises the plan we'd ship; the fixed-k
    variant stays pinned in tests/test_kmeans.py."""
    from tweetaggregates_spark.operators.cluster import semantic_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(
        emb, k=None, iters=2, threshold=0.4, target_cluster_size=250
    )


def knn_pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN (similarity.knn_pq): top-5 neighbors for the first 10
    vectors from m=4 subspace codes. Registered with the INIT-ONLY
    codebook (iters=0: code c = subvector of the c-th lowest-id vector)
    so the DuckDB twin replays the whole path — train/encode/distance
    tables/ordered ADC fold — without unrolling Lloyd; the trained-
    codebook path is pinned by tests/test_pq.py instead."""
    from tweetaggregates_spark.operators.similarity import knn_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_pq(
        emb,
        queries,
        k=5,
        m_subvectors=4,
        k_codes=16,
        iters=0,
        normalize=False,
    )


def knn_ivf_pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC ANN (similarity.knn_ivf_pq): top-5 neighbors for the
    first 10 vectors through the composed index — an 8-cell coarse
    quantizer prunes to 2 probed cells per query, PQ codes (m=4,
    k=16) score the survivors via ADC table lookups. Registered with
    init-only quantizers (coarse_iters=0 / pq_iters=0: cells and
    codes seed from the lowest-id vectors) so the DuckDB twin replays
    the whole build + search; the trained path is pinned by
    tests/test_ivfpq.py (full-probe == knn_pq, recall vs brute)."""
    from tweetaggregates_spark.operators.similarity import knn_ivf_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_ivf_pq(
        emb,
        queries,
        k=5,
        n_cells=8,
        n_probe=2,
        m_subvectors=4,
        k_codes=16,
        coarse_iters=0,
        pq_iters=0,
    )


def knn_filtered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact kNN — "nearest neighbors WHERE
    label = 1" (the pre-filter strategy: restrict the corpus, then
    search). The truth side of the filtered-ANN audit; at 100 TB the
    same predicate pushes down to the corpus scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_bruteforce(
        emb.filter(F.col("label") == 1), emb.filter(F.col("vec_id") < 20)
    )


def ann_filtered_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered-ANN recall audit (round 12): the POST-filter strategy
    (similarity.knn_ivf_postfilter — rank top k*overfetch through the
    metadata-oblivious IVF index, then filter) measured against the
    pre-filtered exact truth. With ~10% predicate selectivity and
    overfetch=2 the expected survivors per query are ~1 of k=5, so
    this audit DOCUMENTS the collapse (per-query recall well below 1)
    — the number that tells an operator to raise overfetch or move
    the predicate into the index (partition the code table by the
    filter column). The monotone-recovery property (recall -> 1 as
    overfetch grows with full probing) is pinned in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.knn_bruteforce(
        emb.filter(F.col("label") == 1), queries
    )
    approx = similarity.knn_ivf_postfilter(
        emb, queries, F.col("label") == 1,
        k=5, n_cells=8, n_probe=2, overfetch=2,
    )
    return similarity.ann_recall(exact, approx, k=5)


def incremental_ann_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ index LIFECYCLE under the oracle gate (VERDICT r11
    #5): build the persisted index on the even-vec_id half of the
    corpus (init-only quantizers so the twin can replay the training),
    append the odd half WITHOUT retraining
    (similarity.append_to_ivf_pq_index — per-batch cost is
    batch-bound: one map pass over the delta, the corpus is never
    rescanned), compact the versioned code tree
    (similarity.compact_ivf_pq_index — pure layout rewrite), and probe
    top-5 for the first 10 vectors through the folded index. Appended
    codes are bit-identical to a from-scratch encode with the same
    quantizers, so the result EQUALS init-only ``knn_ivf_pq`` over the
    full corpus with seeds drawn from the even half — which is exactly
    the oracle (the hash gate proves the append+compact lifecycle
    changes nothing but layout)."""
    import shutil
    import tempfile

    from tweetaggregates_spark.operators.similarity import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        knn_ivf_pq,
        read_ivf_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivf_lifecycle_")
    try:
        idx0 = build_ivf_pq_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            root,
            n_cells=8,
            m_subvectors=4,
            k_codes=16,
            coarse_iters=0,
            pq_iters=0,
            encode_residuals=False,
        )
        # reuse build's open handle and skip the post-append re-read
        # (r15): the compact + read right after make both redundant
        append_to_ivf_pq_index(
            emb.filter(F.col("vec_id") % 2 == 1), root, ingest_id="1",
            return_index=False, index=idx0,
        )
        compact_ivf_pq_index(spark, root)
        idx = read_ivf_pq_index(spark, root)
        out = knn_ivf_pq(
            None, emb.filter(F.col("vec_id") < 10), k=5, n_probe=2, index=idx
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def knn_ivf_pq_trained_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TRAINED IVF-ADC path under the oracle gate: one Lloyd
    iteration for the coarse quantizer (8 cells) AND for each of the
    m=4 per-subspace PQ codebooks (16 codes each). Every training
    step is deterministic (lowest-id seeds, DECIMAL-routed rounded
    centroid means, sequential distance folds, id tie-breaks), so the
    DuckDB twin replays the full pipeline: 5 k-means trainings →
    encode → probes → ADC → top-5. Complements the init-only
    `knn_ivf_pq_embeddings` twin with the production (trained)
    quantizers."""
    from tweetaggregates_spark.operators.similarity import knn_ivf_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_ivf_pq(
        emb,
        queries,
        k=5,
        n_cells=8,
        n_probe=2,
        m_subvectors=4,
        k_codes=16,
        coarse_iters=1,
        pq_iters=1,
    )


def knn_ivf_pq_refined_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The faiss IVFPQ+Refine production pattern under the oracle gate
    (VERDICT r5 #6): the TRAINED IVF-ADC pipeline shortlists
    rescore_depth=20 candidates per query by ADC order, then exact
    squared L2 over the |Q| x 20 true vectors re-ranks the final
    top-5 — quantization error caps the shortlist's recall, the exact
    re-rank restores ordering within it. The DuckDB twin is the
    trained twin (5 unrolled k-means trainings) plus an
    exact-distance re-rank CTE."""
    from tweetaggregates_spark.operators.similarity import knn_ivf_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_ivf_pq(
        emb,
        queries,
        k=5,
        n_cells=8,
        n_probe=2,
        m_subvectors=4,
        k_codes=16,
        coarse_iters=1,
        pq_iters=1,
        rescore_depth=20,
    )


def ann_recall_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the production IVF-PQ+refine index against the
    exact L2 top-5 (operators/similarity.ann_recall) — the quality
    number a real ANN deployment monitors next to its latency: per
    query vector, how many of the true neighbors the probe/ADC/rescore
    pipeline recovered. Composes the two oracle-checked kNN entries;
    the metric join itself is |Q| x k rows (broadcast, nothing
    corpus-sized). The DuckDB twin recomputes both sides and the same
    join."""
    from tweetaggregates_spark.operators.similarity import (
        ann_recall,
        knn_bruteforce_l2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce_l2(emb, queries, k=5)
    approx = knn_ivf_pq_refined_embeddings(spark, sf_dir)
    return ann_recall(exact, approx, k=5)


def ann_recall_truncated_embeddings(
    spark: SparkSession, sf_dir: str, dims: int = 16
) -> DataFrame:
    """Recall@5 of DIMENSION-TRUNCATED search (first ``dims`` of the 64
    components — the Matryoshka-style prefix compression lever) against
    full-dimension exact L2. At 100 TB the embedding column dominates
    scan bytes, and prefix truncation is the cheapest 4x scan/IO
    reduction — IF recall holds on YOUR vectors; this entry is the
    audit that says whether it does (synthetic embeddings carry no
    Matryoshka training bias, so the number here exercises the
    machinery and an honest baseline, not a claim about real models).
    Same composition as ann_recall_ivf_embeddings: two oracle-checked
    kNN sides + the |Q| x k metric join."""
    from tweetaggregates_spark.operators.similarity import (
        ann_recall,
        knn_bruteforce_l2,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce_l2(emb, queries, k=5)
    t = emb.select(
        "vec_id", F.slice("embedding", 1, dims).alias("embedding")
    )
    tq = t.filter(F.col("vec_id") < 10)
    approx = knn_bruteforce_l2(t, tq, k=5)
    return ann_recall(exact, approx, k=5)


def quantized_embeddings_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization of every embedding: scale + exact
    integer summary stats (the full qvec is checked through q_sum /
    q_min / q_max, which any drift in the quantized values changes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(emb).drop("qvec")


def knn_cosine_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage compressed-domain ANN for query vectors vec_id<20:
    int8-quantized cosine shortlists 3k candidates, exact float cosine
    rescores the final top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.knn_quantized_rescore(emb, queries, k=5)


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus-health stats over the embedding table."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_health_stats(emb)


def repeated_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-document repeated 4-grams (memorization scan)."""
    return text.repeated_ngrams(_docs(spark, sf_dir), n=4, top_n=20)


def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel in ONE scan + one tiny aggregate:
    how many documents survive each stage of the standard pre-training
    filter chain (language keep -> quality floor -> exact dedup).

    Per-doc stage flags are plain column expressions over a single
    pass (quality_score with lang/text passthrough); the only
    non-map-side work is the final global aggregate and one distinct
    count over the surviving docs' text hashes. At 100 TB this is a
    scan + two partial-aggregated reductions — no joins, no windows."""
    from tweetaggregates_spark.functions.hashing import hash64

    docs = _docs(spark, sf_dir)
    scored = text.quality_score(docs, keep_cols=("lang", "text"))
    flagged = scored.select(
        "doc_id",
        "quality_score",
        (F.col("lang") == "en").alias("pass_lang"),
        ((F.col("lang") == "en") & (F.col("quality_score") >= 0.5)).alias(
            "pass_quality"
        ),
        hash64(F.col("text")).alias("text_hash"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("pass_lang"), 1).otherwise(0)).alias("n_lang"),
        F.sum(F.when(F.col("pass_quality"), 1).otherwise(0)).alias(
            "n_quality"
        ),
        F.countDistinct(
            F.when(F.col("pass_quality"), F.col("text_hash"))
        ).alias("n_unique"),
    )


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharded into 16-token chunks with stride 8 (50%
    overlap) — training-window rows."""
    return text.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=16, stride=8
    )


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: each doc kept with probability
    0.8 * its own quality score (deterministic hash threshold)."""
    from tweetaggregates_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir)
    scored = text.quality_score(docs)
    return weighted_sample(
        scored, "doc_id", "quality_score", base_rate=0.8
    ).select("doc_id", "quality_score")


def mixture_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture plan: per-source sampling rates filling half the
    corpus chars with an equal share per source."""
    from tweetaggregates_spark.operators.sampling import mixture_plan

    return mixture_plan(
        _docs(spark, sf_dir), "source", "n_chars", budget_fraction=0.5
    )


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-duplication readout that closes the dedup story: the
    distribution of near-dup cluster sizes (size 1 = unique docs), with
    doc counts per size — "what fraction of the corpus is duplicated,
    and how big are the families". Two cascaded tiny aggregates on top
    of the cluster assignment; no new scan of anything."""
    clusters = dedup_clusters_docs(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    )


def bloom_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup (round 7): history =
    even docs, batch = odd docs plus re-crawled copies of every 4th
    even doc; returns the definitely-new batch docs. Exact semantics
    (the bloom only prunes the anti-join's probe side) — the oracle is
    a plain NOT IN over the same content hash."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionAll(
        docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    return dedup.bloom_dedup_new_batch(batch, history)


def random_projection_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Achlioptas sparse random projection of every embedding to 8
    dims (similarity.random_projection) — the JL dimensionality
    reduction ahead of LSH bucketing / cheap clustering."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(emb, out_dim=8)


def domain_quality_filter_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quality-percentile curation (the FineWeb-style rule:
    calibrate the quality bar WITHIN each source, not globally, so one
    boilerplate-heavy domain doesn't eat the whole budget): keep each
    source's top half by quality_score.

    Scale note: ``percent_rank().over(partitionBy(source))`` would run
    each source in ONE task — web-domain sizes are zipf-distributed,
    so at 100 TB one dominant source funnels through a single sort,
    and AQE cannot split WindowExec partitions. Instead the rank comes
    from ``prefix.grouped_partitioned_rank`` (quality-bucketed local
    row_number + per-(source,bucket) offset fold), which splits a
    dominant source across n_buckets tasks and is result-identical;
    percent_rank is then (rank-1)/(n-1) from the same aggregate's
    per-source count (0.0 for single-row sources, matching SQL)."""
    from tweetaggregates_spark.operators.prefix import (
        grouped_partitioned_rank,
    )

    q = text.quality_score(_docs(spark, sf_dir), keep_cols=("source",))
    # narrow + lazily materialize the scored frame: the rank's two
    # branches (local window / bucket counts) would otherwise each
    # rescan the parquet and recompute the text pipeline — the same
    # share-the-scored-frame pattern the k-center and CC loops use
    q = q.select("doc_id", "source", "quality_score").localCheckpoint(
        eager=False
    )
    # quality_score is bounded in [0,1] by construction, so FIXED
    # uniform cuts skip the approxQuantile pass (cut choice never
    # affects the ranks, only bucket balance)
    ranked = grouped_partitioned_rank(
        q,
        ["source"],
        "quality_score",
        ["doc_id"],
        ascending=False,
        rank_name="_rnk",
        count_name="_n",
        cuts=[i / 32 for i in range(1, 32)],
    )
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("_rnk") - 1).cast("double") / (F.col("_n") - 1)
    )
    return (
        ranked.select(
            "doc_id",
            "source",
            "quality_score",
            F.round(pct, 6).alias("q_pct"),
        )
        .filter(F.col("q_pct") <= 0.5)
    )


def coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus (k=5):
    maximally-spread exemplars for diversity-aware data selection —
    cluster.kcenter_coreset; the DuckDB twin unrolls the greedy
    rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cluster.kcenter_coreset(emb, k=5)


def knn_rp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection ANN (similarity.knn_rp_rescore): JL-sketch
    shortlist (16-dim, depth 100) + exact cosine rescore, top-5 for
    the first 10 vectors — the dimension-reducing member of the
    compressed-domain search family (int8 / PQ / IVF-ADC / RP).

    Recall is corpus-dependent: the synthetic embeddings are
    near-random (top-5 cosine ~0.32 vs bulk ~0), the worst case for
    ANY sketch — a numpy Gaussian-projection control measures the
    same ceiling (~0.5 at p=16, depth 50) as this operator hits. On
    clustered corpora (the production case) recall >= 0.9 is pinned
    by tests/test_r7_ops.py on a planted-cluster fixture."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_rp_rescore(
        emb, queries, k=5, out_dim=16, shortlist_size=100
    )


def temperature_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture EXECUTED (alpha=0.5, budget 50%): per-source
    rates from sampling.mixture_temperature (share ~ sqrt(size) — the
    multilingual up-sampling rule), then the deterministic hash-keep
    per doc. Map-only after the two tiny rate aggregates; the rate
    table broadcasts."""
    from tweetaggregates_spark.operators.sampling import (
        BUCKETS,
        mixture_temperature,
        sample_bucket,
    )

    docs = _docs(spark, sf_dir)
    rates = mixture_temperature(
        docs, "source", "n_chars", alpha=0.5, budget_fraction=0.5
    )
    return (
        docs.join(
            F.broadcast(rates.select("source", "planned_rate")), "source"
        )
        .filter(
            sample_bucket(F.col("doc_id"), "temp").cast("double")
            < F.col("planned_rate") * BUCKETS
        )
        .select("doc_id", "source", "planned_rate")
    )


def zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency distribution
    (operators/text.zipf_fit, top-100 terms)."""
    return text.zipf_fit(_docs(spark, sf_dir), top_n=100)


def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rule flags per doc (operators/text.gopher_rules)."""
    return text.gopher_rules(_docs(spark, sf_dir))


def c4_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rule flags per doc (operators/text.c4_rules)."""
    return text.c4_rules(_docs(spark, sf_dir))


def stream_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming exact-dedup LIFECYCLE under the correctness gate
    (VERDICT r7 #3): the dup-augmented corpus is replayed as a 3-file
    NDJSON drop-dir and drained trigger-by-trigger through
    ``run_streaming_exact_dedup`` (one file per trigger, O(batch)
    versioned appends); the returned result is the FOLDED persisted
    index. Because the fold (min canonical + summed copies) is
    associative, the folded index is batching-invariant — equal to a
    one-shot ``exact_dedup`` over everything ingested — so the DuckDB
    twin is the plain GROUP BY text one-shot. (The reference's
    designed offline test is the same shape: replay the saved feed
    through the live pipeline, Program.SaveAggregates.cs:31-39.)

    Harness note: writing the drop-dir collects the sf docs to the
    driver — that is the TEST-GATE replay harness, not the operator
    (production ingest reads an existing drop-dir / socket); the
    result localCheckpoints before the temp tree is removed."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.streaming.dedup import (
        read_hash_index_parts,
        run_streaming_exact_dedup,
    )

    rows = sorted(
        _docs_with_dups(spark, sf_dir).collect(), key=lambda r: r.doc_id
    )
    root = tempfile.mkdtemp(prefix="stream_exact_dedup_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        n = len(rows)
        cuts = [i * n // 3 for i in range(3)] + [n]
        for i in range(3):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        for r in rows[cuts[i] : cuts[i + 1]]
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        index_path = os.path.join(root, "index")
        run_streaming_exact_dedup(
            spark,
            in_dir,
            index_path,
            os.path.join(root, "out"),
            os.path.join(root, "ckpt"),
            available_now=True,
            max_files_per_trigger=1,
        )
        idx, _bloom = read_hash_index_parts(
            spark, index_path, below=1 << 30
        )
        return (
            idx.select("content_hash", "canonical_id", "n_copies")
            .filter(F.col("n_copies") > 1)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (round 11 — the trafilatura /
    resiliparse stage of a crawl pipeline): each doc is wrapped in a
    deterministic synthetic page (title, link-dense nav, the text in a
    content div, an optional related-links list, an inline script, a
    footer — operators/text.attach_synth_html) and
    ``html_main_text`` recovers the main text by block text-density:
    script/style stripped, block-tag split, keep long low-link-density
    fragments. ``roundtrip`` pins content preservation: the extracted
    text must equal the original text whitespace-normalized — i.e.
    the extractor dropped ALL the injected boilerplate and NONE of the
    content. Entirely map-only (regex + array higher-order functions);
    the twin rebuilds the same page and replays the same regexes."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = text.html_main_text(text.attach_synth_html(docs))
    norm = F.trim(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\s+", " ")
    )
    return out.select(
        "doc_id",
        "n_blocks",
        "n_blocks_kept",
        "extracted_text",
        (F.col("extracted_text") == norm).alias("roundtrip"),
    )


def stream_cdc_trim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC-trim LIFECYCLE under the correctness gate
    (round 11, completing VERDICT r10 #5): the corpus is replayed as a
    2-file NDJSON drop-dir (even doc_ids, then odd) and drained one
    file per trigger through ``run_streaming_cdc_trim`` — per trigger
    the batch trims against the FOLDED pre-batch chunk index and
    appends its O(batch) delta. Because each trigger's output equals
    the one-shot ``cdc_trim`` over everything-ingested-so-far
    restricted to the trigger's docs (combined-min keeper), the union
    of the batch outputs is SQL-expressible: trim(evens)|evens UNION
    trim(all)|odds — the twin. Harness note: writing the drop-dir
    collects the sf docs to the driver — test-gate replay only; the
    operator is driver-free."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.streaming.dedup import run_streaming_cdc_trim

    rows = sorted(_docs(spark, sf_dir).collect(), key=lambda r: r.doc_id)
    root = tempfile.mkdtemp(prefix="stream_cdc_trim_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        halves = (
            [r for r in rows if r.doc_id % 2 == 0],
            [r for r in rows if r.doc_id % 2 == 1],
        )
        for i, half in enumerate(halves):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        for r in half
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        out_path = os.path.join(root, "out")
        run_streaming_cdc_trim(
            spark,
            in_dir,
            os.path.join(root, "index"),
            out_path,
            os.path.join(root, "ckpt"),
            available_now=True,
            max_files_per_trigger=1,
        )
        return spark.read.parquet(out_path).select(
            "doc_id", "n_chunks", "n_chunks_kept", "n_tokens_kept",
            "text_deduped",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR domain-matching curation EXECUTED (VERDICT r7 #5): target =
    the corpus's English docs, raw = everything; hashed uni+bigram
    importance weights (sampling.dsir_log_weights, B=1024) and the
    deterministic keep at probability min(1, e^log_weight) — docs that
    look like the target survive, off-domain docs thin out. Map-only
    scoring after ONE B-key count aggregate (the target is a predicate
    over the corpus, so one pass computes both count tables — round 9);
    the twin replays the hashing, the smoothed log-ratios, and the
    keep rule in SQL."""
    docs = _docs(spark, sf_dir)
    kept = sampling.dsir_select(
        docs, target_predicate=F.col("lang") == "en"
    )
    return kept.select(
        "doc_id",
        "lang",
        F.round("log_weight", 6).alias("log_weight"),
        "keep_prob",
    )


def coreset_embeddings_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched Gonzalez k-center (cluster.kcenter_coreset_batched):
    provably identical output to the sequential greedy — the batch
    re-check only admits candidates no outside point could beat — so
    the oracle is the SAME unrolled-rounds SQL as coreset_embeddings;
    registered small (k=5, batch=2) for the gate, benched at k=100
    where the O(k/batch) driver-action count is the point."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cluster.kcenter_coreset_batched(emb, k=5, batch=2)


def pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection of the embedding corpus (operators/pca):
    deterministic fixed-iteration power method with deflation over a
    DECIMAL-routed covariance — the data-DEPENDENT companion to
    random_projection_embeddings. One corpus scan fits the model
    (d(d+1)/2-wide decimal aggregate), an O(d^2) driver solve, one
    map-only projection pass; the DuckDB twin replays the whole fit
    with unrolled left-associative sum chains."""
    from tweetaggregates_spark.operators.pca import pca_fit_project

    emb = load_table(spark, sf_dir, "embeddings")
    # 30 iterations: the synthetic embeddings are near-isotropic
    # (lambda2/lambda1 ~ 0.93-0.99), where fixed-T power iteration
    # converges slowly -- 30 steps capture >= 97% of lambda1 as
    # Rayleigh quotient at every test SF (pinned in tests/test_pca.py)
    return pca_fit_project(
        emb, vec_col="embedding", id_col="vec_id", dim=64,
        n_components=2, iters=30,
    )


def _docs_with_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata documents are single-line and (nearly) all-unique,
    so corpus-level line dedup would be vacuous; synthesize the crawl
    shape it targets (same convention as _docs_with_dups /
    _docs_with_urls): body text re-wrapped into 8-word lines, a
    per-source subscription header shared by every doc of the source,
    and a global copyright banner on every 4th doc."""
    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(8.0)).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice(words, i * 8 + 1, 8), " "
            ),
        ),
        "\n",
    )
    text = F.concat(
        F.lit("subscribe to the "),
        F.col("source"),
        F.lit(" newsletter"),
        F.lit("\n"),
        body,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("\ncopyright example corp all rights reserved"),
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus-level line dedup over the
    boilerplate-augmented documents: the per-source headers and the
    copyright banner occur corpus-wide and are dropped from every doc;
    unique 8-word body lines survive in order."""
    return text.line_dedup(
        _docs_with_boilerplate(spark, sf_dir), max_occurrences=1
    )


def unimax_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax per-language budget allocation over the documents table:
    budget = 1.5x corpus chars, epoch cap 2 — low-resource languages
    hit the epoch cap (full-corpus x2), the high-resource head splits
    the remaining budget equally (operators/sampling.unimax_plan)."""
    from tweetaggregates_spark.operators.sampling import unimax_plan

    return unimax_plan(
        _docs(spark, sf_dir),
        group_col="lang",
        size_col="n_chars",
        budget_fraction=1.5,
        max_epochs=2,
    )


def stream_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL PCA lifecycle under the correctness gate: the
    embedding corpus is replayed as a 3-file NDJSON drop-dir, drained
    trigger-by-trigger through ``run_streaming_cov_ingest`` (one
    2144-row covariance-sums delta per trigger; inline compaction
    rebases mid-run), the model is fitted from the FOLDED persisted
    sums, and the static corpus is projected. Per-key decimal
    summation is associative and commutative, so the folded sums equal
    the one-shot ``cov_term_sums`` aggregate exactly — the DuckDB twin
    is therefore the SAME full-fit SQL as ``pca_embeddings``.

    Harness note: writing the drop-dir collects the sf embeddings to
    the driver — the TEST-GATE replay harness, not the operator; the
    result localCheckpoints before the temp tree is removed. Floats
    round-trip exactly (repr shortest-form JSON -> DOUBLE parse)."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.operators.pca import pca_project
    from tweetaggregates_spark.streaming.covstream import (
        fit_from_cov_index,
        run_streaming_cov_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    root = tempfile.mkdtemp(prefix="stream_pca_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        n = len(rows)
        cuts = [i * n // 3 for i in range(3)] + [n]
        for i in range(3):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps(
                            {
                                "vec_id": r.vec_id,
                                "embedding": [float(x) for x in r.embedding],
                            }
                        )
                        for r in rows[cuts[i] : cuts[i + 1]]
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        index_path = os.path.join(root, "index")
        run_streaming_cov_ingest(
            spark,
            in_dir,
            index_path,
            os.path.join(root, "ckpt"),
            dim=64,
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        mu, comps, _lams, _n = fit_from_cov_index(
            spark, index_path, dim=64, n_components=2, iters=30
        )
        proj = pca_project(emb, mu, comps).select(
            "vec_id", "pc1", "pc2"
        )
        return proj.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _clf_labeled(docs: DataFrame) -> DataFrame:
    """Heuristic 0/1 quality label for the classifier family: mean
    token length >= 4.5, tested as the exact integer rule
    2*sum(len) >= 9*count (no float boundary). NULL text coalesces to
    label 0 like the twin's CASE/coalesce — a NULL y would poison that
    doc's gradient contribution and diverge from the DuckDB replay
    (ADVICE r9)."""
    from tweetaggregates_spark.functions.textstats import tokens

    toks = tokens(F.col("text"))
    sum_len = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return docs.withColumn(
        "label",
        F.coalesce(
            (sum_len * 2 >= F.size(toks) * 9).cast("int"), F.lit(0)
        ),
    )


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter, DISTILLED (operators/classifier):
    train the hashed logistic classifier for 8 full-batch GD steps to
    recover a token-level heuristic label, then score and keep at 0.5
    — the GPT-3-recipe shape (heuristic/reference labels -> classifier
    -> corpus-wide keep) with every training step replayed by the
    DuckDB twin. Kept as the DETERMINISM BASELINE: at scale the
    production shape is quality_classifier_sampled_docs (train on a
    hash-sample, score map-only) — 8 full-corpus GD passes at 100 TB
    is ~800 TB of scan for a 257-weight model (VERDICT r9 #1)."""
    from tweetaggregates_spark.operators import classifier

    labeled = _clf_labeled(_docs(spark, sf_dir))
    w = classifier.logreg_quality_train(
        labeled, "label", n_buckets=256, iters=8, lr=500.0
    )
    return classifier.logreg_quality_scores(
        labeled, w, n_buckets=256, threshold=0.5
    ).select("doc_id", "label", "quality_prob", "clf_keep")


CLF_SAMPLE_FRACTION = 0.2
CLF_SAMPLE_SALT = "clf_train"


def quality_classifier_sampled_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION shape of the model-based quality filter (Brown
    et al. 2020 Appendix A at real scale; VERDICT r9 #1): train the
    hashed logistic classifier on a deterministic 20% ``hash_sample``
    of the corpus (operators/sampling.hash_sample — map-only,
    hash-keyed, so the training set is a pure function of doc_id and
    the DuckDB twin replays it exactly), then score the FULL corpus
    map-only. Training cost drops from iters×|corpus| scans to
    iters×|sample| — at 100 TB that is 8×20 TB instead of 8×100 TB,
    and the sample fraction is the knob (a real run would sample a
    fixed ~1-10 GB training set regardless of corpus size).

    Same labels, features, hyperparameters and output shape as
    quality_classifier_docs (the full-batch determinism baseline);
    only the training set differs, so the two entries' ``clf_keep``
    columns disagree exactly where the decision boundary moved.

    Training runs DRIVER-SIDE on the collected sample
    (logreg_quality_train_local — bit-identical to the distributed
    trainer, pinned): the 257-weight model trains on one node like
    fastText; only scoring is corpus-sized. One Spark job for the
    sample + one map-only scoring pass, vs 8 corpus passes. The
    collect is bounded by the trainer's max_rows contract — at real
    scale the caller sizes the sample to the driver (fixed-size
    bottom-k by hash), not a fixed fraction."""
    from tweetaggregates_spark.operators import classifier

    labeled = _clf_labeled(_docs(spark, sf_dir))
    train = sampling.hash_sample(
        labeled, "doc_id", CLF_SAMPLE_FRACTION, salt=CLF_SAMPLE_SALT
    )
    w = classifier.logreg_quality_train_local(
        train, "label", n_buckets=256, iters=8, lr=500.0
    )
    return classifier.logreg_quality_scores(
        labeled, w, n_buckets=256, threshold=0.5
    ).select("doc_id", "label", "quality_prob", "clf_keep")


CLF_FIXED_K = 256
CLF_FIXED_SALT = "clf_fix"


def quality_classifier_bottomk_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CONSTANT-training-cost classifier: the training set is the
    bottom-``CLF_FIXED_K`` docs by salted hash (deterministic, ordered
    (hash64, doc_id) — a uniform FIXED-SIZE sample whatever the corpus
    size, which is what Brown et al.'s reference-vs-CC classifier
    actually trains on). Spark plans the selection as
    TakeOrderedAndProject (per-partition top-k + driver merge, O(k)
    driver bytes); training runs driver-side
    (logreg_quality_train_local) and scoring is one map-only corpus
    pass — so at ANY corpus size the whole entry costs one scan plus a
    constant. Compare quality_classifier_sampled_docs, whose 20%
    fraction keeps training cost proportional to the corpus (exponent
    0.71 measured at sf0.1->sf1); this one is the flat-cost endpoint
    of the same recipe. Twin: the DuckDB trainer replays the identical
    ORDER BY (hash, doc_id) LIMIT k selection."""
    from tweetaggregates_spark.functions.hashing import hash64
    from tweetaggregates_spark.operators import classifier

    docs = _docs(spark, sf_dir)
    h = hash64(
        F.concat(F.lit(f"{CLF_FIXED_SALT}:"), F.col("doc_id").cast("string"))
    )
    # order on (hash, id) only, THEN label the k survivors — labeling
    # inside the TakeOrdered child would evaluate the token fold for
    # every corpus row just to throw it away
    train = _clf_labeled(
        docs.orderBy(h.asc(), F.col("doc_id").asc()).limit(CLF_FIXED_K)
    )
    labeled = _clf_labeled(docs)
    w = classifier.logreg_quality_train_local(
        train, "label", n_buckets=256, iters=8, lr=500.0
    )
    return classifier.logreg_quality_scores(
        labeled, w, n_buckets=256, threshold=0.5
    ).select("doc_id", "label", "quality_prob", "clf_keep")


def stream_quality_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-on-ingest LIFECYCLE under the correctness gate: train the
    fixed-size bottom-k classifier offline (driver-side, constant
    cost), then replay the corpus as a 3-file NDJSON drop-dir through
    ``run_streaming_quality_scores`` — the stateless map-only scoring
    projection with the weights as one Literal — and return the union
    of the per-batch outputs. Scoring is trigger-count-invariant (a
    pure projection), so the DuckDB twin is the same bottom-k-trained
    scorer over the whole corpus at once.

    Harness note: writing the drop-dir collects the sf docs to the
    driver — the TEST-GATE replay harness, not the operator
    (production ingest reads an existing drop-dir / socket / Kafka)."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.functions.hashing import hash64
    from tweetaggregates_spark.operators import classifier
    from tweetaggregates_spark.streaming.classify import (
        run_streaming_quality_scores,
    )

    docs = _docs(spark, sf_dir)
    h = hash64(
        F.concat(F.lit(f"{CLF_FIXED_SALT}:"), F.col("doc_id").cast("string"))
    )
    train = _clf_labeled(
        docs.orderBy(h.asc(), F.col("doc_id").asc()).limit(CLF_FIXED_K)
    )
    w = classifier.logreg_quality_train_local(
        train, "label", n_buckets=256, iters=8, lr=500.0
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    root = tempfile.mkdtemp(prefix="stream_clf_scores_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        n = len(rows)
        cuts = [i * n // 3 for i in range(3)] + [n]
        for i in range(3):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        for r in rows[cuts[i] : cuts[i + 1]]
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        out_path = os.path.join(root, "out")
        run_streaming_quality_scores(
            spark,
            in_dir,
            out_path,
            os.path.join(root, "ckpt"),
            weights=w,
            n_buckets=256,
            threshold=0.5,
            available_now=True,
            max_files_per_trigger=1,
        )
        return (
            spark.read.parquet(out_path)
            .select("doc_id", "quality_prob", "clf_keep")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def unimax_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UniMax allocation EXECUTED (operators/sampling.unimax_sample):
    capped languages repeat for their full epochs, the head's
    fractional epoch is a deterministic hash-sample — the actual
    training-mix row stream, one row per (doc, epoch)."""
    return sampling.unimax_sample(
        _docs(spark, sf_dir),
        group_col="lang",
        size_col="n_chars",
        id_col="doc_id",
        budget_fraction=1.5,
        max_epochs=2,
    )


def decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination EXECUTED (operators/text.decontaminate):
    training docs (doc_id % 50 != 0) minus everything sharing a 4-gram
    with the synthetic eval split (doc_id % 50 == 0) — the clean-corpus
    counterpart of contamination_docs, anti-joined on the distilled
    flagged-id set."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    out = text.decontaminate(train, evalset, k=4)
    return out.select("doc_id", "lang", "source", "n_chars")


def quality_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified per-doc quality-signal table (the RedPajama-Data-v2
    shape — public: one wide row of curation signals per document,
    computed once and reused by every downstream filter): heuristic
    quality stats, the Gopher rule set, the C4 rule set, and the
    language-ID ratios, in ONE scan — the rule operators chain via
    ``keep_cols`` passthrough (pure projection composition, no joins;
    a join-of-four-frames formulation would shuffle the corpus four
    times)."""
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs, keep_cols=("text", "lang", "source"))
    qcols = (
        "lang", "source", "n_chars", "n_tokens", "mean_token_len",
        "alpha_ratio", "punct_ratio", "quality_score",
    )
    g = text.gopher_rules(q, keep_cols=("text",) + qcols)
    gcols = qcols + (
        "n_words", "mean_word_len", "symbol_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_ratio", "stop_hits",
        "gopher_keep",
    )
    c = text.c4_rules(g, keep_cols=("text",) + gcols)
    ccols = gcols + (
        "n_lines", "terminal_punct_line_frac", "min_words_line_frac",
        "n_sentences", "has_lorem_ipsum", "has_curly_brace", "c4_keep",
    )
    return text.lang_id(c, keep_cols=ccols, emit_n_tokens=False)


def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint sets (k=4 token shingles, window
    w=4 — detection guarantee for shared runs >= 7 tokens)."""
    return dedup.winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)


def winnow_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints at containment
    overlap >= 0.2 (operators/dedup.winnow_dup_pairs)."""
    return dedup.winnow_dup_pairs(_docs(spark, sf_dir), k=4, w=4, threshold=0.2)


def bigram_lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape bigram-LM perplexity: model fit on the deterministic
    20% reference slice, every doc scored
    (operators/text.bigram_logprob_scores)."""
    return text.bigram_logprob_scores(_docs(spark, sf_dir))


def bigram_lm_quality_bcast_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The broadcast-model form of the bigram scorer (VERDICT r10 #6):
    the two model tables ship to every task, so the exploded bigram
    rows never cross a shuffle — the production plan whenever the
    curated reference vocab fits in executor memory (the KenLM case).
    Same values as bigram_lm_quality_docs by construction."""
    return text.bigram_logprob_scores(
        _docs(spark, sf_dir), model_join="broadcast"
    )


def lsh_recall_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality audit of the MinHash LSH stage: recall /
    precision of the banded candidates vs exact 3-gram Jaccard >= 0.3
    ground truth (operators/dedup.pair_recall). The exact side is the
    documented quadratic baseline — at 100 TB run it on a sampled audit
    slice; the metric join itself is pair-sized."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    truth = dedup.ngram_jaccard_pairs(docs, threshold=0.3)
    cand = dedup.minhash_lsh_pairs(docs)
    return dedup.pair_recall(truth, cand)


def lsh_recall_sampled_docs(
    spark: SparkSession, sf_dir: str, truth_sample_pct: float = 0.2
) -> DataFrame:
    """The 100 TB form of the LSH candidate audit (VERDICT r10 #4):
    ``lsh_recall_docs`` computes exact Jaccard over ALL pairs for
    ground truth — quadratic in the corpus, unusable at scale. Here
    the audit runs on a deterministic ``truth_sample_pct`` hash-sample
    of docs (operators/sampling.hash_sample, salt 'lshaudit'), with
    BOTH the exact-truth side and the banded-candidate side restricted
    to sampled x sampled pairs, so recall/precision are estimated on
    the same pair universe — an unbiased estimator of the full-corpus
    candidate recall, because a doc pair's banding outcome depends
    only on the two docs' own signatures (band-key equality is
    pairwise), never on the rest of the corpus. Truth-side cost now
    tracks the SAMPLE (p^2 of the pairs), not the corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sampled = sampling.hash_sample(
        docs, "doc_id", truth_sample_pct, salt="lshaudit"
    )
    truth = dedup.ngram_jaccard_pairs(sampled, threshold=0.3)
    cand = dedup.minhash_lsh_pairs(sampled)
    return dedup.pair_recall(truth, cand)


def lsh_plan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planned-vs-measured LSH recall on the 'lshaudit' 20% sample
    (operators/dedup.lsh_plan_audit): the 1-(1-s^r)^b s-curve averaged
    over the exact-Jaccard true pairs next to the recall the actual
    16-hash/4-band minhash achieved — the closed-form sizing curve
    under the gate."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sampled = sampling.hash_sample(docs, "doc_id", 0.2, salt="lshaudit")
    return dedup.lsh_plan_audit(sampled, threshold=0.3)


def _docs_snapshot_v2(docs: DataFrame) -> DataFrame:
    """The v2 crawl snapshot used by the versioning entries: remove
    every 11th doc, edit every 7th (an appended token changes the
    content hash), add a shifted-id batch for every 13th."""
    d = F.col("doc_id")
    edited = F.when(
        d % 7 == 0, F.concat(F.col("text"), F.lit(" revised"))
    ).otherwise(F.col("text"))
    return (
        docs.filter(d % 11 != 0)
        .withColumn("text", edited)
        .unionAll(
            docs.filter(d % 13 == 0).select(
                (d + 2_000_000).alias("doc_id"), "text"
            )
        )
    )


def corpus_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two synthesized crawl versions
    (operators/dedup.corpus_diff): all four statuses are non-vacuous
    under the gate (see _docs_snapshot_v2)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return dedup.corpus_diff(docs, _docs_snapshot_v2(docs))


def snapshot_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioning story EXECUTED end to end (round 12): diff v1
    against the v2 snapshot, re-process ONLY the docs the diff says
    are new content (status added/changed — the removed and unchanged
    docs never move), and fold that batch into v1's persisted
    content-hash index (operators/dedup.exact_dedup_new_batch).
    Because the fold is batching-invariant, the updated index EQUALS
    the one-shot exact_dedup over v1 plus the re-processed slice —
    which is the DuckDB twin with the slice written as predicates, so
    the hash gate proves the diff-driven selection picks exactly the
    right rows to re-process."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    v2 = _docs_snapshot_v2(docs)
    diff = dedup.corpus_diff(docs, v2)
    batch = (
        diff.filter(F.col("status").isin("added", "changed"))
        .select("doc_id")
        .join(v2, "doc_id")
        .select("doc_id", "text")
    )
    index = dedup.exact_dedup(docs)
    _assignments, updated = dedup.exact_dedup_new_batch(batch, index)
    return updated


def oph_lsh_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates from ONE-permutation minhash banding
    (operators/dedup.minhash_lsh_pairs_oph) over the duplicated crawl
    — the 1/16th-hash-cost production signature; candidates are
    hash-gated so the densification is twin-exact."""
    return dedup.minhash_lsh_pairs_oph(_docs_with_dups(spark, sf_dir))


def oph_lsh_recall_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality audit of the OPH signature: recall/precision
    of OPH-banded candidates vs exact 3-gram Jaccard >= 0.3 on the
    'lshaudit' 20% sample — the number that says whether the 16x
    hashing saving costs recall on THIS corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sampled = sampling.hash_sample(docs, "doc_id", 0.2, salt="lshaudit")
    truth = dedup.ngram_jaccard_pairs(sampled, threshold=0.3)
    cand = dedup.minhash_lsh_pairs_oph(sampled)
    return dedup.pair_recall(truth, cand)


def _curated_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard pre-training curation pipeline EXECUTED end to end
    in one composed plan (the RefinedWeb/Gopher recipe order): fused
    single-scan rule signals (quality + Gopher + C4 + lang-id,
    keep_cols passthrough — no joins) -> rule filter -> exact dedup
    keeping the canonical min-id copy -> benchmark decontamination
    (4-gram overlap vs the synthetic eval split, broadcast anti-join)
    -> the surviving corpus rows. Input is the duplicated crawl
    (_docs_with_dups) so the dedup stage does real work.

    Rule calibration: the production verdict is ``gopher_keep AND
    c4_keep`` (both flags separately oracle-gated at full strictness
    in gopher_rules_docs / c4_filter_docs), but the synthetic corpus
    CANNOT satisfy either full set (every doc has stop_hits <= 1 and
    zero terminal-punctuation lines), so this entry filters on the
    calibrated subset the data can discriminate: n_words >= 30,
    alpha_word_ratio >= 0.8, stop_hits >= 1 (Gopher family),
    NOT has_lorem_ipsum AND NOT has_curly_brace (C4 blocklist
    family), quality_score >= 0.5, lang_pred = 'en'. Swap the
    predicate for the full flags on a real crawl.

    Plan economics at 100 TB: ONE pass of the corpus feeds the whole
    filter chain map-side into the single dedup shuffle (a
    content_hash-partitioned window min — state per partition is the
    copy count of one text; for mega-duplicated-text regimes swap in
    the partial-aggregated groupBy of exact_dedup). Decontamination is
    computed on a SEPARATE cheap branch: contamination is a per-doc
    text property, so the flagged set comes from the RAW corpus
    (superset of the filtered train — result-identical after the
    anti-join) without re-running the signal chain, and broadcasts
    into the anti-join. Net: one signal-chain pass + one raw shingle
    pass + one corpus shuffle. Every stage's standalone detector is
    separately registered — this entry pins their COMPOSITION, i.e.
    what a user actually ships."""
    from pyspark.sql import Window

    from tweetaggregates_spark.functions.hashing import hash64

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = docs.unionByName(dups)
    q = text.quality_score(corpus, keep_cols=("text", "lang", "source"))
    g = text.gopher_rules(
        q, keep_cols=("text", "lang", "source", "n_tokens", "quality_score")
    )
    c = text.c4_rules(
        g,
        keep_cols=(
            "text", "lang", "source", "n_tokens", "quality_score",
            "n_words", "alpha_word_ratio", "stop_hits",
        ),
    )
    sig = text.lang_id(
        c,
        keep_cols=(
            "text", "lang", "source", "n_tokens", "quality_score",
            "n_words", "alpha_word_ratio", "stop_hits",
            "has_lorem_ipsum", "has_curly_brace",
        ),
        emit_n_tokens=False,
    )
    kept = sig.filter(
        (F.col("n_words") >= 30)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("stop_hits") >= 1)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_curly_brace")
        & (F.col("quality_score") >= 0.5)
        & (F.col("lang_pred") == "en")
    ).select("doc_id", "text", "lang", "source", "n_tokens", "quality_score")
    hashed = kept.withColumn("content_hash", hash64(F.col("text")))
    deduped = (
        hashed.withColumn(
            "_min_id",
            F.min("doc_id").over(Window.partitionBy("content_hash")),
        )
        .where(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    train = deduped.filter(F.col("doc_id") % 50 != 0)
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    # flagged ids from the RAW originals (dups/filtered rows flagged
    # here can't reach the anti-join, so the superset is harmless and
    # the signal chain runs exactly once)
    flagged = (
        text.contamination_pairs(
            docs.filter(F.col("doc_id") % 50 != 0), evalset, k=4
        )
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
    )
    clean = train.join(F.broadcast(flagged), "doc_id", "left_anti")
    return clean.select(
        "doc_id", "text", "lang", "source", "n_tokens", "quality_score",
        "content_hash",
    )


def curated_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered gate entry for the executed curation pipeline —
    ``_curated_clean`` (which carries the full pipeline docstring)
    minus the text payload."""
    return _curated_clean(spark, sf_dir).drop("text")


def curated_corpus_neardup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation pipeline COMPOSED with fuzzy dedup (VERDICT r10
    #7 — the RefinedWeb recipe's final stage): after the exact dedup +
    decontamination of ``_curated_clean``, MinHash-LSH near-dup pairs
    over the surviving text feed the connected-components labeler
    (operators/cluster.assign_clusters) and each near-dup cluster
    keeps its canonical min-id member, stamped with the cluster size.

    One composed plan; the curated frame is lazily localCheckpointed
    because the near-dup stage consumes it three times (shingles,
    label join, size join) and the signal chain must run ONCE — the
    same barrier pattern the pipeline's r10 restructure proved.
    Non-vacuous at sf0.01: the crawl's boilerplate band collapses
    (n_members > 1 clusters exist).

    Round 13 (VERDICT r12 #7 — OPH adoption SETTLED BY MEASUREMENT):
    this entry was re-registered on ``minhash_lsh_pairs_oph`` and
    swept hash-green (identical candidate pairs on the curated
    corpus), then the measured delta came out NEGATIVE — composed
    pipeline 13.5 s OPH vs 12.0 s 16-hash at sf0.1, and the isolated
    signature stage 7.36 vs 7.31 s even at sf1 (tools/scale_r13.py,
    SCALE.md round-13 section). On Spark's codegen the per-shingle
    md5 cost OPH saves is NOT the bottleneck (tokenize + shingle
    explode + the min-aggregate dominate), and OPH's densification
    (16 coalesces over 16 shifted candidates = a 256-term projection)
    costs more than the 15 saved hashes. So the 16-hash signature
    stays the default HERE and in every composed consumer
    (lsh_verified_pairs, canonical_docs, the band-index lifecycle —
    whose persisted layout is additionally an index FORMAT contract);
    ``oph_lsh_pairs_docs``/``oph_lsh_recall_docs`` keep OPH
    gate-green as the documented alternative for engines where
    hashing IS the bottleneck (row-at-a-time scorers, GPU shingling,
    wider signatures)."""
    clean = _curated_clean(spark, sf_dir).localCheckpoint(eager=False)
    pairs = dedup.minhash_lsh_pairs(clean)
    # r16 (VERDICT r15 #5, guide §2.4): the previous shape joined
    # clean x CC-labels TWICE in the final job — once for the output
    # rows and once (under `sizes`) only to count members. But every
    # CC-labels node IS a clean doc (pairs come from clean), so the
    # per-cluster member count for PAIRED clusters is a groupBy over
    # the labels table alone (label-sized, not corpus-sized), and a
    # singleton representative's count is the constant 1 — the second
    # corpus-sized SortMergeJoin + corpus-sized aggregate drop out of
    # the plan (2 SMJ -> 1, 14 -> 8 Exchanges). Value-identical:
    # labeled(doc) = coalesce(label, doc) exactly as assign_clusters,
    # representatives filter the same, and for paired clusters
    # count(labels.node per cluster) == count(labeled docs per
    # cluster) because the node and doc sets coincide.
    labels = cluster.connected_components(pairs).withColumnRenamed(
        "node", "doc_id"
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        clean.join(labels, "doc_id", "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        )
        .where(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id", "left")
        .select(
            "doc_id", "lang", "source", "n_tokens", "quality_score",
            "content_hash",
            F.coalesce(F.col("n_members"), F.lit(1)).alias("n_members"),
        )
    )


def winnow_dup_pairs_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-guarded winnowing pairs (the LSH hot-band analogue):
    fingerprints above the doc-frequency cap are dropped from the join,
    making overlap a lower bound over distinctive content. The cap is
    set DELIBERATELY strict (2; the corpus max doc-freq is 3) so the
    guard's drop path is exercised under the driver gate, not only in
    pytest — production values are in the hundreds."""
    return dedup.winnow_dup_pairs(
        _docs(spark, sf_dir), k=4, w=4, threshold=0.2, max_fp_freq=2
    )


def ppl_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets over the reference-
    slice bigram LM (operators/text.ppl_buckets)."""
    return text.ppl_buckets(_docs(spark, sf_dir))


def cdc_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of every document (k=4 shingles,
    divisor 8 — expected chunk ~8 shingles;
    operators/dedup.cdc_chunks)."""
    return dedup.cdc_chunks(_docs(spark, sf_dir), k=4, divisor=8)


def cdc_dup_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated CDC chunks over the duplicated crawl
    (operators/dedup.cdc_dup_chunks) — sub-document exact dedup: the
    planted full-copy duplicates share every chunk, and organically
    shared long runs chunk identically by construction."""
    return dedup.cdc_dup_chunks(_docs_with_dups(spark, sf_dir), k=4, divisor=8)


def cdc_trim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed chunk-level dedup over the plain corpus: one surviving
    occurrence per CDC chunk hash, documents reassembled from their
    kept spans (operators/dedup.cdc_trim)."""
    return dedup.cdc_trim(_docs(spark, sf_dir), k=4, divisor=8)


def substring_trim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span trim over the duplicated crawl
    (operators/dedup.substring_trim): duplicated spans of >= 20 tokens
    (maximal runs of shared CDC chunks) are removed from non-keeper
    occurrences; short incidental chunk overlaps survive — the
    Lee et al. ExactSubstr shape at span granularity. The planted
    full copies trim to empty while organically shared short chunks
    (which cdc_trim would drop) are kept."""
    return dedup.substring_trim(
        _docs_with_dups(spark, sf_dir), k=4, divisor=8, min_span_tokens=20
    )


def incremental_cdc_trim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental chunk-level dedup (VERDICT r10 #5): the corpus
    arrives as two batches (even doc_ids, then odd); the odd batch
    trims against the even batch's CHUNK INDEX only — the historical
    corpus is never rechunked (operators/dedup.cdc_chunk_index +
    cdc_trim_new_batch). The combined-min keeper makes the result
    equal to the one-shot ``cdc_trim`` over the full corpus restricted
    to the odd docs, so the oracle is the cdc_trim twin with that
    restriction — the hash gate proves batching-invariance."""
    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    index = dedup.cdc_chunk_index(b1, k=4, divisor=8)
    trimmed, _delta = dedup.cdc_trim_new_batch(b2, index, k=4, divisor=8)
    return trimmed


# -- round 13: leak-proof splits, retrieval, streaming near-dup gate, --------
# -- diff-driven ANN ingest (VERDICT r12 #2/#4/#5/#8) ------------------------


def cluster_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof CLUSTER-level train/val/test routing (VERDICT r12
    #2): ``split_docs`` routes by per-doc hash, so two near-duplicates
    can straddle train and test — the eval-contamination hole
    ``contamination_docs`` measures but a doc-level split cannot
    prevent (the reason dedup precedes splitting in every public
    corpus recipe — Gopher/RefinedWeb/Dolma). Compose: MinHash-LSH
    pairs -> connected components (operators/cluster.assign_clusters)
    -> the 10/10/80 hash split keyed on the CLUSTER id — every member
    inherits its cluster's split, so no near-dup pair straddles splits
    (pinned in tests/test_r13_ops.py). Scale: the routing adds one
    map-side hash on top of the CC labels — the cost IS the dedup
    pass a pipeline already runs; the twin replays the closure with a
    recursive CTE and the same hash routing."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs)
    labeled = cluster.assign_clusters(docs.select("doc_id"), pairs)
    return sampling.split_assign(labeled, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval under the gate (VERDICT r12 #5): top-10
    docs per query for 5 corpus-derived queries (every 101st doc's
    first 8 distinct tokens) — the retrieval shape that completes the
    inverted_index/tfidf index family (operators/text.bm25_topk
    carries the scoring + scale docstring)."""
    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return text.bm25_topk(docs, queries)


def stream_near_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming NEAR-dup LIFECYCLE under the correctness gate
    (VERDICT r12 #4 — the one streaming dedup lifecycle that was
    pytest-only while its exact and CDC siblings were gate entries):
    the corpus is replayed as a 2-file NDJSON drop-dir (low doc_ids,
    then high) and drained one file per trigger through
    ``run_streaming_near_dedup`` — per trigger the batch dedups
    against the FOLDED pre-batch MinHash band index and appends only
    its O(batch) delta (bands + remap log). Batching-invariance makes
    the FOLDED index (operators/dedup.read_band_index) equal to a
    one-shot ``build_band_index`` over everything ingested, whose
    cluster labels are the transitive closure — so the DuckDB twin is
    the dedup_clusters recursive-CTE closure over the same slice.

    The replay runs on a deterministic 30% hash sample ('streamnd'
    salt — the lsh_recall_sampled precedent): per-trigger cost is CC
    rounds x job latency plus the versioned parquet round-trips, so
    the full-corpus replay triples the gate entry's wall time while
    proving nothing extra — every lifecycle property (folded
    pre-batch index, O(batch) deltas, batching-invariance) holds
    per-slice, and the FULL-corpus replay stays pinned in
    tests/test_stream_near_dedup.py. Harness note: writing the
    drop-dir collects the sampled docs to the driver — test-gate
    replay only; the operator is driver-free."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.streaming.dedup import (
        run_streaming_near_dedup,
    )

    docs = sampling.hash_sample(
        _docs(spark, sf_dir).select("doc_id", "text"),
        "doc_id",
        0.3,
        salt="streamnd",
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    root = tempfile.mkdtemp(prefix="stream_near_dedup_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        n = len(rows)
        halves = (rows[: n // 2], rows[n // 2 :])
        for i, half in enumerate(halves):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        for r in half
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        index_path = os.path.join(root, "index")
        run_streaming_near_dedup(
            spark,
            in_dir,
            index_path,
            os.path.join(root, "out"),
            os.path.join(root, "ckpt"),
            available_now=True,
            max_files_per_trigger=1,
        )
        final = dedup.read_band_index(spark, index_path)
        labels = final.select("doc_id", "cluster").distinct()
        return (
            docs.select("doc_id")
            .join(labels, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("cluster"), F.col("doc_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _emb_snapshot_v2(emb: DataFrame) -> DataFrame:
    """The v2 embedding snapshot for the diff-driven ANN entries:
    remove every 11th vector, change every 7th (negation — exact in
    IEEE, so the twin replays it bit-identically), add a shifted-id
    batch for every 13th (the _docs_snapshot_v2 shape on vectors)."""
    vid = F.col("vec_id")
    neg = F.transform("embedding", lambda x: -x)
    return (
        emb.filter(vid % 11 != 0)
        .withColumn(
            "embedding",
            F.when(vid % 7 == 0, neg).otherwise(F.col("embedding")),
        )
        .unionByName(
            emb.filter(vid % 13 == 0).select(
                (vid + 2_000_000).alias("vec_id"), "embedding"
            )
        )
    )


def snapshot_ann_ingest_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot-diff -> ANN ingest COMPOSED (VERDICT r12 #8): the same
    added+changed slice that drives the content-hash index in
    ``snapshot_ingest_docs`` drives the IVF-PQ index here, so
    embedding re-indexing also skips unchanged docs. Diff v1 against
    the v2 snapshot (operators/dedup.corpus_diff over a JSON
    rendering of the vector — map-side, the vectors never shuffle),
    then apply the diff to v1's persisted index: TOMBSTONE the
    removed+changed ids (similarity.delete_from_ivf_pq_index — the
    versioned-store delete half ANN ingest needs that dedup's remap
    log never did) and APPEND the added+changed vectors encoded with
    the EXISTING quantizers, both under one ingest id (delete-then-
    insert is idempotent on replay); compact (tombstones fold into
    the rewrite); probe top-5 for v2's first 10 vectors. The updated
    index holds exactly encode(v2) with v1's quantizers, so the twin
    is the init-only one-shot ``knn_ivf_pq`` over the POST-DIFF
    corpus with quantizer seeds drawn from v1 — the hash gate proves
    the diff-driven delete+append selection is exact."""
    import shutil
    import tempfile

    from tweetaggregates_spark.operators.similarity import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
        knn_ivf_pq,
        read_ivf_pq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # the v2 snapshot is consumed by the diff, the append batch, the
    # compact/retrain corpus, the probe queries and the exact side;
    # one lazy materialization replaces a re-run of the snapshot
    # transform (two scans + union) per consumer (r15)
    v2 = _emb_snapshot_v2(emb).localCheckpoint(eager=False)
    sig = lambda d: d.select(  # noqa: E731
        "vec_id", F.to_json(F.col("embedding")).alias("sig")
    )
    # the diff feeds two consumers (delete ids + append ids); checkpoint
    # it lazily so the full-outer id join runs once, not per consumer
    diff = dedup.corpus_diff(
        sig(emb), sig(v2), id_col="vec_id", text_col="sig"
    ).localCheckpoint(eager=False)
    batch_ids = diff.filter(
        F.col("status").isin("added", "changed")
    ).select(F.col("doc_id").alias("vec_id"))
    gone_ids = diff.filter(
        F.col("status").isin("removed", "changed")
    ).select(F.col("doc_id").alias("vec_id"))
    root = tempfile.mkdtemp(prefix="snapshot_ann_")
    try:
        idx0 = build_ivf_pq_index(
            emb,
            root,
            n_cells=8,
            m_subvectors=4,
            k_codes=16,
            coarse_iters=0,
            pq_iters=0,
            encode_residuals=False,
        )
        delete_from_ivf_pq_index(gone_ids, root, ingest_id="1")
        # reuse build's open handle and skip the post-append re-read
        # (r15): both are redundant driver actions here — this entry
        # re-reads/compacts the index itself right after (a
        # delete+append OVERLAP was also tried: no win above the host
        # noise, and the entry-level A/B medians leaned slower, so the
        # lifecycle actions stay serial — measured, not inferred)
        append_to_ivf_pq_index(
            v2.join(batch_ids, "vec_id"), root, ingest_id="1",
            return_index=False, index=idx0,
        )
        compact_ivf_pq_index(spark, root)
        idx = read_ivf_pq_index(spark, root)
        out = knn_ivf_pq(
            None,
            v2.filter(F.col("vec_id") < 10),
            k=5,
            n_probe=2,
            index=idx,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def ngram_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level asymmetric containment pairs (round 13 —
    operators/dedup.ngram_containment_pairs, which carries the
    measure + plan docstring): directed (contained, container) pairs
    at C >= 0.8 over 3-gram shingles — the subsumed-short-doc dup
    shape symmetric Jaccard misses. Quadratic-truth oracle baseline
    like ngram_jaccard_docs (same one-shingle-join plan; the
    max_doc_freq cap is the documented production guard)."""
    return dedup.ngram_containment_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.8
    )


def bm25_eval_contamination_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval-based eval contamination (round 13 — the BM25
    companion to the n-gram `contamination_docs`): each eval-split
    doc (doc_id % 50 == 0, the curated pipeline's split convention)
    queries the TRAIN corpus (doc_id % 50 != 0) with its first 8
    distinct tokens; top-5 train docs per eval doc by BM25. This is
    the retrieval-shaped audit run before shipping a benchmark
    number: ranked lexical overlap catches reworded/reordered
    contamination that exact n-gram matching can miss, and the score
    distribution calibrates an exclusion threshold. Same single
    token-scan plan as bm25_topk_docs (text.bm25_topk); the index
    stats (tf/dl/df/N) are computed over the TRAIN side only."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    queries = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return text.bm25_topk(train, queries, k=5)


# -- round 14: frozen splits, persisted retrieval index, verified -----------
# -- containment, quantizer refresh, datasheet v2 (VERDICT r13 #2-#7) --------


def incremental_cluster_split_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-level split routing under INCREMENTAL ingest with
    frozen assignments (VERDICT r13 #2): the corpus arrives as two
    batches (even doc_ids, then odd). Batch 1 is split one-shot
    (cluster_split_docs semantics); batch 2 dedups against batch 1's
    band index (dedup.dedup_new_batch_delta — O(batch) outputs) and
    its docs are routed by sampling.frozen_split_for_batch: docs
    joining an existing cluster inherit that cluster's FROZEN split
    (when a batch-2 bridge doc merges several batch-1 clusters, the
    smallest prior cluster id's split wins — the documented tie
    policy); docs forming brand-new clusters hash-route on their own
    label. No batch-1 doc is ever re-routed — the freeze that keeps
    train docs from silently entering test across corpus versions
    (pinned in tests/test_r14_ops.py with a merge-inducing batch).

    Twin: the recursive-CTE closure over the EVEN docs gives batch
    1's clusters c1 (split = hash(c1)); the closure over the full
    corpus gives final components; an odd doc routes by min(c1) over
    the even members of its component, else by the component label.
    Batching-invariance of the band index makes both closures equal
    the incremental labels, so the hash gate proves the freeze
    algebra end to end. Output: doc_id, cluster_id (current
    post-merge label for every doc), split."""
    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    index = dedup.build_band_index(b1)
    a1 = (
        b1.select("doc_id")
        .join(index.select("doc_id", "cluster").distinct(), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
        )
    )
    s1, routes = sampling.frozen_split_for_batch(a1)
    a2, _new_rows, remap = dedup.dedup_new_batch_delta(b2, index)
    s2, _routes = sampling.frozen_split_for_batch(a2, routes, remap)
    # batch-1 rows keep their FROZEN split but report the CURRENT
    # (post-merge) cluster label, like any versioned-corpus catalog
    s1_cur = (
        s1.join(
            F.broadcast(
                remap.withColumnRenamed("old_cluster", "cluster_id")
            ),
            "cluster_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("new_cluster", F.col("cluster_id")).alias(
                "cluster_id"
            ),
            "split",
        )
    )
    return s1_cur.unionByName(s2)


def bm25_topk_indexed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED retrieval-index lifecycle under the gate (VERDICT
    r13 #3 — the one index family that still rebuilt per call):
    build_token_index over the even docs (base v=0), fold the odd docs
    in with append_token_index_delta (O(batch) writes, additive df/N
    deltas — ingest v=1), COMPACT (crash-safe rebase, result-identical
    by integer additivity), then serve bm25_topk_indexed from the
    folded index with the same corpus-derived queries as
    bm25_topk_docs. Batching invariance of the additive stats makes
    the indexed result bit-equal to the scan-per-call bm25_topk over
    the full corpus — the twin IS bm25_topk_docs' SQL, so the hash
    gate proves build+append+compact+read end to end. Harness note:
    the index tree lands in a fresh tempdir per call (test-gate
    replay; a deployment owns a stable path)."""
    import shutil
    import tempfile

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="token_index_")
    try:
        text.build_token_index(docs.filter(F.col("doc_id") % 2 == 0), root)
        text.append_token_index_delta(
            docs.filter(F.col("doc_id") % 2 == 1), root, ingest_id=1
        )
        text.compact_token_index(spark, root)
        idx = text.read_token_index(spark, root)
        queries = docs.filter(F.col("doc_id") % 101 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        out = text.bm25_topk_indexed(idx, queries)
        # materialize before the tempdir vanishes
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def containment_verified_pairs_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded containment discovery under the gate (VERDICT r13 #4 —
    the production form of ngram_containment_docs): MinHash-LSH
    candidates, exact directed containment verified per candidate
    (operators/dedup.containment_verified_pairs, which carries the
    plan + recall docstring). Twin: the brute-force containment SQL
    restricted to the same LSH candidate set — both engines compute
    banding and verification, so the hash gate proves the composed
    path, and the SCALE.md recall row records banded-vs-truth."""
    return dedup.containment_verified_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.8
    )


def ann_refresh_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantizer refresh on compact, under the gate (VERDICT r13 #6):
    the r13 lifecycle proved delete/append under FROZEN v1 quantizers;
    after the negated-vector churn _emb_snapshot_v2 simulates, those
    quantizers no longer fit the corpus and recall decays. This entry
    runs the same diff-driven delete+append as
    snapshot_ann_ingest_embeddings, then
    compact_ivf_pq_index(retrain_corpus=v2): re-train coarse+PQ on
    the SURVIVORS, re-encode every code (a pure rewrite on the same
    crash-safe rebase — bit-identical to an init-only build over the
    post-diff corpus, which is exactly the twin's probe side), and
    emits the recall@5 audit of the refreshed probe vs exact L2 (the
    ann_recall composition). The stale-vs-refreshed recall delta is
    measured in SCALE.md and pinned in tests/test_r14_ops.py."""
    import shutil
    import tempfile

    from tweetaggregates_spark.operators.similarity import (
        ann_recall,
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        delete_from_ivf_pq_index,
        knn_bruteforce_l2,
        knn_ivf_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # the v2 snapshot is consumed by the diff, the append batch, the
    # compact/retrain corpus, the probe queries and the exact side;
    # one lazy materialization replaces a re-run of the snapshot
    # transform (two scans + union) per consumer (r15)
    v2 = _emb_snapshot_v2(emb).localCheckpoint(eager=False)
    sig = lambda d: d.select(  # noqa: E731
        "vec_id", F.to_json(F.col("embedding")).alias("sig")
    )
    # the diff feeds two consumers (delete ids + append ids); checkpoint
    # it lazily so the full-outer id join runs once, not per consumer
    diff = dedup.corpus_diff(
        sig(emb), sig(v2), id_col="vec_id", text_col="sig"
    ).localCheckpoint(eager=False)
    batch_ids = diff.filter(
        F.col("status").isin("added", "changed")
    ).select(F.col("doc_id").alias("vec_id"))
    gone_ids = diff.filter(
        F.col("status").isin("removed", "changed")
    ).select(F.col("doc_id").alias("vec_id"))
    root = tempfile.mkdtemp(prefix="ann_refresh_")
    try:
        idx0 = build_ivf_pq_index(
            emb,
            root,
            n_cells=8,
            m_subvectors=4,
            k_codes=16,
            coarse_iters=0,
            pq_iters=0,
            encode_residuals=False,
        )
        delete_from_ivf_pq_index(gone_ids, root, ingest_id="1")
        # reuse build's open handle and skip the post-append re-read
        # (r15): both are redundant driver actions here — this entry
        # re-reads/compacts the index itself right after (a
        # delete+append OVERLAP was also tried: no win above the host
        # noise, and the entry-level A/B medians leaned slower, so the
        # lifecycle actions stay serial — measured, not inferred)
        append_to_ivf_pq_index(
            v2.join(batch_ids, "vec_id"), root, ingest_id="1",
            return_index=False, index=idx0,
        )
        refreshed = compact_ivf_pq_index(
            spark, root, retrain_corpus=v2,
            coarse_iters=0, pq_iters=0,
        )
        queries = v2.filter(F.col("vec_id") < 10)
        approx = knn_ivf_pq(
            None, queries, k=5, n_probe=2, index=refreshed
        )
        exact = knn_bruteforce_l2(v2, queries, k=5)
        out = ann_recall(exact, approx, k=5).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def dataset_card_v2_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release datasheet v2 (VERDICT r13 #7): the r12 one-row card
    predates the split/contamination surface; a real release
    datasheet also reports SPLIT SIZES, NEAR-DUP CLUSTER STATS and
    CONTAMINATION COUNTS. Pure composition of existing gate entries —
    dataset_card (corpus stats over the plain documents table),
    cluster_split_docs (leak-proof 10/10/80 routing -> n_train/val/
    test + cluster stats), contamination_docs (4-gram train docs
    sharing a shingle with the %50 eval set) and
    bm25_eval_contamination_docs (distinct train docs retrieved into
    any eval top-5) — crossJoined as 1-row aggregates, so the card
    stays one scan per input pipeline and every number is the same
    one its source entry reports. The %50 contamination convention
    and the 10/10/80 hash split are DIFFERENT split conventions by
    design (the former is the n-gram audit's fixture, the latter the
    routing policy); the card reports both.

    r16 (VERDICT r15 #4, guide §5): the four constituent pipelines
    each scanned + tokenized the corpus from scratch; one
    materialized layer — the datasheet's per-doc scalar stats
    (dataset_card_row_stats) plus ONE shared tokens array — now feeds
    all four aggregate families (1 scan + 1 tokenize instead of ~5)
    via the operators' ``tokens_col`` hooks, value-identical (every
    consumer derives the same ``tokens(text)`` expression it computed
    itself before; oracle re-verified). The raw text column stays out
    of the checkpoint, but the ``_toks`` array it does hold is about
    text-sized, so the checkpoint's footprint is corpus-scale, not a
    keys-and-metadata layer. The checkpoint is LAZY: its
    first consumer is the CC labels init inside assign_clusters,
    which runs ALONE at plan-construction time (the r15 eager/lazy
    rule — lazy is safe when the first consumer is single-sided)."""
    from tweetaggregates_spark.functions.textstats import tokens as _tk

    docs = _docs(spark, sf_dir)
    base = text.dataset_card_row_stats(
        docs.withColumn("_toks", _tk(F.col("text"))),
        tokens_col="_toks",
        keep_cols=("_toks",),
    ).localCheckpoint(eager=False)
    card = text._dataset_card_agg(base)
    # inlined cluster_split_docs on the shared layer (same operators,
    # same values: minhash pairs -> CC labels -> 10/10/80 hash split)
    pairs = dedup.minhash_lsh_pairs(base, tokens_col="_toks")
    labeled = cluster.assign_clusters(base.select("doc_id"), pairs)
    routed = sampling.split_assign(labeled, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )
    # two consumers (split sizes + cluster stats), BOTH inside the one
    # final job: checkpoint EAGERLY so the routing join runs once —
    # lazily, the two consumer stages race to materialize it and the
    # tail recomputes per stage (the new_bands race, measured r15)
    splits = routed.localCheckpoint(eager=True)
    split_row = splits.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    sz = splits.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_c"))
    cl_row = sz.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.coalesce(
            F.sum(F.when(F.col("_c") > 1, F.col("_c"))), F.lit(0)
        )
        .cast("long")
        .alias("n_neardup_docs"),
    )
    train = base.filter(F.col("doc_id") % 50 != 0)
    evalset = base.filter(F.col("doc_id") % 50 == 0)
    # contamination_docs semantics on the shared layer
    cont_row = text.contamination_pairs(
        train, evalset, k=4, tokens_col="_toks"
    ).agg(F.countDistinct("train_doc_id").alias("ngram_flagged_train"))
    n50_row = base.agg(
        F.sum(F.when(F.col("doc_id") % 50 != 0, 1).otherwise(0))
        .cast("long")
        .alias("_n50")
    )
    # bm25_eval_contamination_docs semantics on the shared layer
    queries = evalset.select(
        F.col("doc_id").alias("query_id"), "_toks"
    )
    bm25_row = text.bm25_topk(
        train,
        queries,
        k=5,
        tokens_col="_toks",
        query_tokens_col="_toks",
    ).agg(F.countDistinct("doc_id").alias("bm25_flagged_train"))
    out = (
        card.crossJoin(split_row)
        .crossJoin(cl_row)
        .crossJoin(cont_row)
        .crossJoin(n50_row)
        .crossJoin(bm25_row)
    )
    return out.select(
        "*",
        F.round(F.col("n_neardup_docs") / F.col("n_docs"), 6).alias(
            "neardup_rate"
        ),
        F.round(
            F.col("ngram_flagged_train") / F.col("_n50"), 6
        ).alias("ngram_train_rate"),
    ).drop("_n50")


def stream_cluster_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen split-routing LIFECYCLE under the gate (round 14 —
    the streaming composition of incremental_cluster_split_docs): the
    corpus is replayed as a 2-file NDJSON drop-dir (even doc_ids,
    then odd) and drained one file per trigger through
    ``run_streaming_split_routing`` — per trigger the batch dedups
    against the FOLDED pre-batch band index, its docs are routed by
    ``frozen_split_for_batch`` against the persisted routes snapshot,
    and only O(batch) split records + the merge-sized routes table
    are written. Batch boundaries here equal the incremental entry's
    even/odd batching, so the twin IS that entry's SQL; recorded
    first-seen cluster ids fold to current labels through the band
    index's resolved remap log at read time (the versioned-family
    read contract).

    The replay runs on a deterministic 30% hash sample ('streamsplit'
    salt — the stream_near_dedup_docs precedent and reasoning: the
    full-corpus replay measured 31.4 s at sf0.1 / 98.4 s at sf1,
    exponent 0.50, while proving nothing the sampled replay + the
    full-corpus incremental twin + the pytest lifecycle pin don't
    already prove; the twin applies the same predicate to every
    documents scan). Harness note: writing the drop-dir collects the
    sampled docs to the driver — test-gate replay only; the runner
    itself is driver-free."""
    import json as _json
    import os
    import shutil
    import tempfile

    from tweetaggregates_spark.operators.dedup import (
        _apply_remap,
        read_band_index_parts,
    )
    from tweetaggregates_spark.streaming.dedup import (
        run_streaming_split_routing,
    )

    docs = sampling.hash_sample(
        _docs(spark, sf_dir).select("doc_id", "text"),
        "doc_id",
        0.3,
        salt="streamsplit",
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    root = tempfile.mkdtemp(prefix="stream_cluster_split_")
    try:
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        batches = (
            [r for r in rows if r.doc_id % 2 == 0],
            [r for r in rows if r.doc_id % 2 == 1],
        )
        for i, batch in enumerate(batches):
            p = os.path.join(in_dir, f"{i}.ndjson")
            with open(p, "w") as fh:
                fh.write(
                    "\n".join(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        for r in batch
                    )
                )
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        index_path = os.path.join(root, "index")
        out_path = os.path.join(root, "out")
        run_streaming_split_routing(
            spark,
            in_dir,
            index_path,
            out_path,
            os.path.join(root, "ckpt"),
            available_now=True,
            max_files_per_trigger=1,
        )
        splits = spark.read.parquet(out_path).select(
            "doc_id", "cluster_id", "split"
        )
        _parts, resolved = read_band_index_parts(spark, index_path)
        out = _apply_remap(splits, resolved, "cluster_id")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
