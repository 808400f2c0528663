"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these algorithms):
* exact: one hash-groupBy on the content key — a single shuffle whose
  payload is (key, id), not the documents.
* n-gram Jaccard: exact but quadratic-ish — the shingle self-join
  explodes on hot shingles. Correct baseline; use MinHash at 100 TB.
* MinHash+LSH: per-doc signature (map-side only), then a self-join on
  (band_id, band_key) — candidates are limited to docs agreeing on a
  full band, so the join is bucket-local; recall tunable via
  (n_hashes, bands).
* SimHash: one 64-bit (here 16-bit for oracle economy) fingerprint per
  doc; near-dups = small hamming distance; blocking by band at scale.

Every hash is the portable md5-based hash64 (functions/hashing.py) so
the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweetaggregates_spark.functions.hashing import (
    hash64,
    seeded_hash64,
    seeded_hash64_pair,
)
from tweetaggregates_spark.functions.textstats import tokens, word_shingles
from tweetaggregates_spark.session import run_concurrently

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 16


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on content hash: one row per distinct text with the
    canonical (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), hash64(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _doc_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    tokens_col: str | None = None,
) -> DataFrame:
    # tokens_col: a PRE-TOKENIZED array column (exactly
    # textstats.tokens(text)) — lets a composed pipeline materialize
    # one tokenize pass and share it across shingle consumers
    # (dataset_card_v2_docs, guide §5); None keeps the self-contained
    # shape, value-identical either way (tokens() is deterministic).
    toks = F.col(tokens_col) if tokens_col else tokens(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(toks, k))).alias(
            "shingle"
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc minhash signature: mh_i = min over shingles of
    hash64(i:shingle). One explode + one groupBy with n_hashes fused
    min() aggregates — a single shuffle of (doc, shingle-hash) pairs.
    ``tokens_col``: optional pre-tokenized array column (see
    ``_doc_shingles``)."""
    sh = _doc_shingles(df, text_col, id_col, k, tokens_col=tokens_col)
    # hash columns in a Project ahead of the aggregate: subexpression
    # elimination shares each md5 between its two 60-bit halves there
    # (it would not across separate min() aggregate expressions)
    hash_cols = []
    for pair in range(n_hashes // 2):
        lo, hi = seeded_hash64_pair(F.col("shingle"), pair)
        hash_cols.append(lo.alias(f"h{2 * pair}"))
        hash_cols.append(hi.alias(f"h{2 * pair + 1}"))
    if n_hashes % 2:
        hash_cols.append(
            seeded_hash64(F.col("shingle"), n_hashes // 2).alias(f"h{n_hashes - 1}")
        )
    hashed = sh.select("doc_id", *hash_cols)
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )


def minhash_signatures_oph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = N_MINHASH,
) -> DataFrame:
    """One-permutation minhash with rotation densification (Li,
    Owen & Zhang 2012; Shrivastava & Li 2014) — the production cost
    lever for signature computation: ``minhash_signatures`` evaluates
    ``n_hashes`` independent hash families per shingle (16 md5 calls
    here, 8 after the pair trick); OPH hashes each shingle ONCE,
    scatters it into ``h mod n_buckets`` buckets, and takes the
    per-bucket min — an unbiased minhash estimator per NON-EMPTY
    bucket at 1/n_hashes the hashing cost. Empty buckets (docs with
    fewer shingles than buckets hit them often) densify by borrowing
    the nearest non-empty bucket to the right (circular), offset by
    the borrow distance so borrowed values stay distinct across
    buckets — without densification an empty bucket would collide for
    ALL docs and flood the banding with false candidates.

    Same output contract as ``minhash_signatures`` (doc_id,
    mh0..mh{n-1}), so ``lsh_bands`` / ``_band_self_pairs`` compose
    unchanged. Plan shape: one explode + ONE groupBy with n_buckets
    conditional min aggregates — the identical single shuffle, 1/16th
    the hash arithmetic. The estimator is noisier per bucket than
    true k-permutation minhash for short docs (fewer distinct
    shingles than buckets); ``oph_lsh_recall_docs`` audits the
    resulting candidate recall against exact Jaccard truth."""
    sh = _doc_shingles(df, text_col, id_col, k)
    hashed = sh.select(
        "doc_id",
        hash64(F.col("shingle")).alias("h"),
    ).withColumn("b", F.pmod(F.col("h"), F.lit(n_buckets)))
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.when(F.col("b") == i, F.col("h"))).alias(f"m{i}")
            for i in range(n_buckets)
        ]
    )
    dense = [
        F.coalesce(
            *[
                F.col(f"m{(i + j) % n_buckets}") + F.lit(j)
                for j in range(n_buckets)
            ]
        ).alias(f"mh{i}")
        for i in range(n_buckets)
    ]
    return mins.select("doc_id", *dense)


def minhash_lsh_pairs_oph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Candidate near-dup pairs from the OPH signature — the standard
    banding over ``minhash_signatures_oph`` (same bucket-local join
    economics as ``minhash_lsh_pairs``, 1/n the signature cost)."""
    sig = minhash_signatures_oph(df, text_col, id_col, k, n_buckets)
    return _band_self_pairs(lsh_bands(sig, n_buckets, n_bands))


def lsh_bands(sig: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS) -> DataFrame:
    """Signature -> (doc_id, band_id, band_key) rows; band_key is the
    ':'-joined minhash slice, so equal key <=> equal band values."""
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(":", *[F.col(c).cast("string") for c in cols]).alias(
                    "band_key"
                ),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_key")


def _band_self_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one full band.
    The self-join key is (band_id, band_key) — bucket-local, never a
    cross product; shuffle_hash makes both sides' canonical subplans
    identical so the band pipeline computes once (ReusedExchange)."""
    a = bands.alias("a")
    b = bands.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    tokens_col: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one full LSH band.
    Output: (doc_a, doc_b), doc_a < doc_b, distinct. ``tokens_col``:
    optional pre-tokenized array column (see ``_doc_shingles``)."""
    bands = lsh_bands(
        minhash_signatures(
            df, text_col, id_col, k, n_hashes, tokens_col=tokens_col
        ),
        n_hashes,
        n_bands,
    )
    return _band_self_pairs(bands)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup join: pairs with |A∩B| / |A∪B| >=
    threshold. Shingle self-join — exact with max_doc_freq=None, but
    O(sum over shingles of freq²): hot shingles (boilerplate n-grams
    appearing in thousands of docs) dominate the join quadratically.

    ``max_doc_freq`` enables the DISCOVERY-role mitigation: shingles
    appearing in more than that many docs are dropped from the join.
    The intersection count then undercounts by at most the number of
    hot shingles a pair shares, so the reported jaccard is a LOWER
    BOUND — pairs sharing only boilerplate fall away (usually the
    desired behavior: boilerplate overlap is not near-duplication),
    genuinely near-dup pairs keep most of their (distinctive) shingles.
    Exact-verify survivors with max_doc_freq=None if exactness matters.
    At 100 TB use minhash_lsh_pairs for discovery and this as verify."""
    sh = _doc_shingles(df, text_col, id_col, k)
    if max_doc_freq is not None:
        # doc-frequency per shingle once (the groupBy reuses the same
        # shuffle key as the join), keep only cool shingles
        cool = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(cool.hint("shuffle_hash"), "shingle")
    # per-doc shingle counts map-only (no explode/shuffle needed)
    sizes = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.array_distinct(word_shingles(tokens(F.col(text_col)), k))
        ).alias("n_shingles"),
    )
    a = sh.alias("a")
    # shuffle_hash: (1) broadcasting a shingle table is wrong at any
    # real scale; (2) with both sides shuffled on `shingle` the plans
    # canonicalize identically and Spark REUSES the exchange — the
    # shingle pipeline runs once, not twice
    b = sh.alias("b").hint("shuffle_hash")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join: directed pairs where
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| >= threshold
    — Broder's containment measure, the dup shape symmetric Jaccard
    MISSES: a short doc embedded in a much longer one (a quote inside
    an aggregator page, a boilerplate-wrapped repost) has
    |A∩B|/|A∪B| ≈ |A|/|B| → 0 but containment ≈ 1. Corpus recipes run
    this after Jaccard dedup to catch subsumed shorts (the ExactSubstr
    family handles the span-level form; this is the doc-level form).

    Output: (doc_contained, doc_container, n_inter, containment),
    DIRECTED — mutual near-copies emit both directions. Same plan
    economics as ``ngram_jaccard_pairs`` (whose docstring documents
    the quadratic-baseline role and the ``max_doc_freq`` cap): one
    shingle self-join with a reused exchange; the direction split is
    a map-side union AFTER the (doc_a, doc_b) aggregate, so the join
    itself still runs on unordered pairs once."""
    sh = _doc_shingles(df, text_col, id_col, k)
    if max_doc_freq is not None:
        cool = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(cool.hint("shuffle_hash"), "shingle")
    sizes = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.array_distinct(word_shingles(tokens(F.col(text_col)), k))
        ).alias("n_shingles"),
    )
    a = sh.alias("a")
    b = sh.alias("b").hint("shuffle_hash")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
            ),
            "doc_b",
        )
    )
    # both directions via ONE map-side explode (a union would consume
    # — and recompute — the whole join pipeline twice; PLAN_AUDIT:
    # 14 -> 8 exchanges, matching the jaccard sibling)
    directed = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_contained"),
                    F.col("doc_b").alias("doc_container"),
                    F.col("n_inter").alias("n_inter"),
                    F.round(F.col("n_inter") / F.col("na"), 6).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_contained"),
                    F.col("doc_a").alias("doc_container"),
                    F.col("n_inter").alias("n_inter"),
                    F.round(F.col("n_inter") / F.col("nb"), 6).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return directed.filter(F.col("containment") >= threshold)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash fingerprint over distinct tokens: bit i is the
    sign of sum over tokens of (+1 if hash bit i set else -1). bits=16
    keeps the oracle SQL tractable; production would use 64."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", hash64(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    fingerprint = None
    for i in range(bits):
        # shiftleft + OR (not 2**i + add): bit 63 is the long sign bit,
        # so the full production width bits=64 stays well-defined
        bit = F.when(
            F.col(f"s{i}") >= 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = (
            bit if fingerprint is None else fingerprint.bitwiseOR(bit)
        )
    return sums.select("doc_id", fingerprint.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — ALL-PAIRS exact
    baseline (cartesian). Kept only as the sf0.01 oracle cross-check for
    simhash_pairs_banded, which is the scale path."""
    fp = simhash(df, text_col, id_col, bits)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )


def simhash_banded_candidates(
    fp: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """(doc_id, simhash) -> (doc_id, simhash, band_id, band_bits) rows.

    Pigeonhole blocking: split the fingerprint into max_hamming + 1
    disjoint bit-bands. Two fingerprints within hamming distance
    max_hamming differ in at most max_hamming bands, so they AGREE
    exactly on at least one band — an equi-join on (band_id, band_bits)
    finds every true pair (recall = 1 by construction)."""
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    bands = []
    offset = 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), offset)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_bits"),
            )
        )
        offset += width
    return fp.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_bits")


def simhash_pairs_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance via band blocking —
    the 100 TB path, replacing the all-pairs `simhash_pairs` cartesian.

    Same pigeonhole trick as MinHash-LSH: equi-join on (band_id,
    band_bits) makes the self-join bucket-local, then the exact hamming
    filter keeps true pairs; result set is IDENTICAL to `simhash_pairs`
    (recall 1, the band only over-generates candidates). distinct()
    collapses pairs that agree on several bands.

    Bucket width: with the oracle-economy bits=16 and max_hamming=2 each
    band carries 5-6 bits (<=64 buckets) — fine at test scale, hot at
    100 TB. Production uses bits=64 => ~21-bit bands (~2M buckets), the
    same shape Google's SimHash dedup paper (Manku et al., WWW'07) runs."""
    fp = simhash(df, text_col, id_col, bits)
    banded = simhash_banded_candidates(fp, bits, max_hamming)
    a = banded.alias("a")
    # shuffle join on identical canonical subplans => the fingerprint
    # pipeline computes once (ReusedExchange), join stays bucket-local
    b = banded.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )


def minhash_lsh_pairs_capped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket_size: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """``minhash_lsh_pairs`` with the giant-cluster guard the 100 TB
    deployment needs: an LSH bucket of b docs emits O(b²) candidate
    pairs, so one pathological cluster (a boilerplate page duplicated
    millions of times) can dominate the whole job. Buckets larger than
    ``max_bucket_size`` are excluded from pair generation and reported
    on a QUARANTINE channel instead — at scale those clusters are
    handled by exact dedup (identical/near-identical content hashes
    one groupBy away) rather than pairwise comparison.

    Returns ``(pairs, quarantine)``: pairs as in ``minhash_lsh_pairs``
    but only from buckets within the cap; quarantine one row per
    oversized bucket (band_id, band_key, bucket_size, example_doc_ids
    sample) for downstream exact handling/audit."""
    bands = lsh_bands(
        minhash_signatures(df, text_col, id_col, k, n_hashes), n_hashes, n_bands
    )
    sized = bands.join(
        bands.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("bucket_size")
        ),
        ["band_id", "band_key"],
    )
    ok = sized.filter(F.col("bucket_size") <= max_bucket_size).select(
        "doc_id", "band_id", "band_key"
    )
    quarantine = (
        sized.filter(F.col("bucket_size") > max_bucket_size)
        .groupBy("band_id", "band_key", "bucket_size")
        .agg(F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).alias(
            "example_doc_ids"))
    )
    a = ok.alias("a")
    b = ok.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs, quarantine


def substring_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-document SUBSTRING dedup (VERDICT r3 #5; motivation: Lee et
    al. '22, "Deduplicating Training Data Makes Language Models
    Better"): emit document pairs sharing a verbatim span of at least
    ``span_tokens`` tokens, with the longest shared span length.

    Exactness via pigeonhole on positional shingles: a shared span of
    >= L tokens contains a shared L-token shingle, and conversely every
    shared L-shingle IS an L-token verbatim span — so the shingle
    equi-join has recall AND precision 1 (modulo 60-bit hash collisions,
    which the DuckDB twin reproduces identically). The longest span is
    recovered with the gaps-and-islands trick: matched shingle positions
    (pa, pb) on one diagonal (pa - pb) that are CONSECUTIVE extend one
    span; max island length + L - 1 = span length in tokens.

    Scale shape — bucketed exactly like MinHash-LSH:
    * per-doc shingling is map-side (one transform + explode, hashes of
      L-token windows; the shuffle carries (hash, doc, pos), never text);
    * the discovery join is a shingle-hash equi-join (bucket-local);
      ``max_doc_freq`` drops boilerplate shingles appearing in more than
      that many documents — the same hot-bucket cap as minhash_lsh_pairs
      (a shingle in b docs makes O(b^2) candidate rows);
    * island detection is a window PARTITIONED by (pair, diagonal) —
      state is one pair's matches, never global.

    Output: doc_a, doc_b, n_shared_shingles, max_span_tokens.
    """
    from pyspark.sql import Window as W

    L = span_tokens
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= L)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (L - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    hash64(
                        F.concat_ws(" ", F.slice("toks", i, L))
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.h")
    if max_doc_freq is not None:
        df_counts = sh.groupBy("h").agg(
            F.countDistinct("doc_id").alias("_df")
        )
        sh = (
            sh.join(df_counts.hint("shuffle_hash"), "h")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    a = sh.alias("a")
    b = sh.alias("b").hint("shuffle_hash")
    matches = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = matches.withColumn(
        "island", F.col("pa") - F.row_number().over(w)
    )
    spans = islands.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.sum("run_len").cast("long").alias("n_shared_shingles"),
        (F.max("run_len") + F.lit(L - 1)).cast("long").alias(
            "max_span_tokens"
        ),
    )


# -- incremental (cross-run) dedup ------------------------------------------
#
# Production pipelines dedup each NEW ingest batch against the corpus
# already processed, without recomputing the corpus (VERDICT r4 #5;
# the reference's analog is the RocksDB store's incremental
# PersistObservableAsync, RocksDBStore.cs:70-135). The persisted state
# is the MinHash BAND INDEX: one row per (doc, band) with the doc's
# current dup-cluster label. Key properties:
#
# * Band rows are IMMUTABLE per doc — cross-run growth is append-only.
#   Only the cluster label can change (when a new doc merges two
#   previously-separate clusters), and label remaps touch only the
#   merged clusters' rows.
# * BATCHING-INVARIANT by construction: cluster membership is the
#   connected component of the band-sharing graph, and CC is
#   order-independent; contracting each existing component into its
#   min-id representative preserves both connectivity and the min, so
#   (index(batch1) + dedup_new_batch(batch2)) == build_band_index(
#   batch1 ∪ batch2) exactly — pinned in tests/test_incremental_dedup.
#   (This also means duplicates' bands must STAY in the index: a later
#   doc may overlap only the duplicate, not its cluster canonical.)
# * Scale shape: the new-vs-index discovery is the same (band_id,
#   band_key) equi-join as minhash_lsh_pairs — at 100 TB the index
#   parquet is bucketed on band_key so the join co-locates without
#   shuffling the index; the CC runs over the DELTA graph only (new
#   docs + the old clusters they touch), so its state scales with the
#   batch, not the corpus. The full-index label rewrite below is the
#   test-scale simplification — a deployment appends the (old_cluster
#   -> new_cluster) remap to a log table folded in at read time, the
#   same last-writer-wins pattern as the aggregate store's batch dirs.


def build_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Initial band index over a corpus: (doc_id, band_id, band_key,
    cluster) with cluster = min doc_id of the doc's band-sharing
    connected component. Docs with fewer than ``k`` tokens emit no
    bands (as in minhash_lsh_pairs) and are implicit singletons."""
    from tweetaggregates_spark.operators.cluster import connected_components

    # one materialization serves every consumer: the CC edge build, the
    # returned index rows, AND any caller-side join against the index
    # (incremental_cluster_split joins it twice) — without it each
    # consumer re-runs the whole tokenize+shingle+minhash pipeline,
    # the dominant map-side cost of this operator (measured r15:
    # 3 signature passes -> 1 on the incremental-split path)
    bands = lsh_bands(
        minhash_signatures(df, text_col, id_col, k, n_hashes), n_hashes, n_bands
    ).localCheckpoint(eager=False)
    labels = connected_components(_band_self_pairs(bands)).withColumnRenamed(
        "node", "doc_id"
    )
    return bands.join(labels, "doc_id", "left").select(
        "doc_id",
        "band_id",
        "band_key",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster"),
    )


def new_vs_index_edges(new_bands: DataFrame, index: DataFrame) -> DataFrame:
    """Discovery edges (new doc -> old cluster) for incremental dedup:
    the (band_id, band_key) equi-join of a batch's bands against the
    persisted index. Joining against the old CLUSTER label (not the old
    doc id) suffices — same-cluster old docs are already connected.

    hash-build side = the BATCH: the index grows with the corpus while
    the batch is one ingest's worth, so the per-partition hash table
    must be built over the small side (hinting the index would size
    build memory to the accumulated corpus). When the index is a
    catalog table bucketed on (band_id, band_key) —
    ``write_band_index_bucketed`` — the scan itself satisfies the
    join's distribution and ONLY the batch side shuffles (pinned in
    tests/test_incremental_dedup.py)."""
    return (
        new_bands.alias("n")
        .hint("shuffle_hash")
        .join(
            index.alias("i"),
            (F.col("n.band_id") == F.col("i.band_id"))
            & (F.col("n.band_key") == F.col("i.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("doc_a"),
            F.col("i.cluster").alias("doc_b"),
        )
        .distinct()
    )


def dedup_new_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing band index without
    recomputing the corpus.

    Returns ``(assignments, updated_index)``: assignments is one row
    per batch doc (doc_id, cluster, is_duplicate — cluster != doc_id
    means the doc joined an existing cluster or a smaller batch doc's);
    updated_index is the full index after the batch (old rows with
    merged cluster labels remapped, new docs' band rows appended),
    equal to ``build_band_index`` over the combined corpus.

    Plan: one map-side signature pass over the BATCH only, a
    new-vs-new band self-join plus a new-vs-index band equi-join for
    discovery, then connected components over the delta graph (new
    docs + touched old clusters — old cluster labels are themselves
    min doc-ids, so they participate as ordinary nodes)."""
    new_bands = lsh_bands(
        minhash_signatures(batch, text_col, id_col, k, n_hashes),
        n_hashes,
        n_bands,
    )
    # the delta graph: new-new pairs + (new doc -> old cluster) edges.
    # Joining against the old CLUSTER label (not the old doc id) is
    # enough — same-cluster old docs are already connected.
    nn = _band_self_pairs(new_bands)
    no = new_vs_index_edges(new_bands, index)
    return _fold_delta(batch, index, new_bands, nn, no, id_col)


def _delta_parts(
    batch: DataFrame,
    new_bands: DataFrame,
    nn: DataFrame,
    no: DataFrame,
    id_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared core of the incremental fold: CC over the delta graph,
    then the three O(batch) outputs — per-doc assignments, the batch's
    band rows (labeled with their final cluster as of this ingest), and
    the (old_cluster -> new_cluster) remap entries for old clusters
    this batch merged. Returns (labels, assignments, new_rows,
    remap_delta)."""
    from tweetaggregates_spark.operators.cluster import connected_components

    # no (the new-vs-index edge join — the one join that probes the
    # FULL folded index) has two consumers: the CC edge set and the
    # touched-cluster projection below; materialize it once so the
    # index probe runs once per ingest, not twice (r15). Edge-sized.
    no = no.localCheckpoint(eager=False)
    labels = connected_components(nn.unionByName(no))
    assignments = (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster"),
        )
        .withColumn("is_duplicate", F.col("cluster") != F.col("doc_id"))
    )
    new_rows = new_bands.join(
        assignments.select("doc_id", "cluster"), "doc_id"
    ).select("doc_id", "band_id", "band_key", "cluster")
    # remap entries ONLY for old clusters this batch touched (they enter
    # the delta graph exclusively through the new->old-cluster edges),
    # and only when their component min actually changed — so the log
    # grows with merges, never with the corpus
    touched = no.select(F.col("doc_b").alias("node")).distinct()
    remap_delta = (
        labels.join(touched, "node")
        .filter(F.col("cluster_id") != F.col("node"))
        .select(
            F.col("node").alias("old_cluster"),
            F.col("cluster_id").alias("new_cluster"),
        )
    )
    return labels, assignments, new_rows, remap_delta


def _fold_delta(
    batch: DataFrame,
    index: DataFrame,
    new_bands: DataFrame,
    nn: DataFrame,
    no: DataFrame,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Full-rewrite tail of the incremental fold: CC over the delta
    graph, per-doc assignments, merged-cluster label remap applied to
    EVERY old row, band append. O(corpus) output by construction — the
    batch-scale oracle path; production uses the delta tail
    (``dedup_new_batch_delta`` + ``append_band_index_delta``)."""
    labels, assignments, new_rows, _ = _delta_parts(
        batch, new_bands, nn, no, id_col
    )
    # remap old cluster labels that merged (their label node's component
    # min changed); rows of untouched clusters pass through unchanged
    remap = labels.select(
        F.col("node").alias("cluster"), F.col("cluster_id").alias("_new")
    )
    old_rows = index.join(F.broadcast(remap), "cluster", "left").select(
        "doc_id",
        "band_id",
        "band_key",
        F.coalesce(F.col("_new"), F.col("cluster")).alias("cluster"),
    )
    return assignments, old_rows.unionByName(new_rows)


def dedup_new_batch_delta(
    batch: DataFrame,
    index: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    index_parts: list[DataFrame] | None = None,
    index_remap: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``dedup_new_batch`` with O(batch) OUTPUTS — the at-scale ingest
    path (VERDICT r5 #1): instead of materializing the full updated
    index (an O(corpus) rewrite per ingest), return only the DELTA —
    ``(assignments, new_rows, remap_delta)`` where new_rows is the
    batch's band rows labeled with their final cluster and remap_delta
    is one (old_cluster -> new_cluster) row per existing cluster this
    batch merged. Persist with ``append_band_index_delta`` and read
    back with ``read_band_index`` (which folds the remap log); run
    ``compact_band_index`` on a schedule to rebase.

    Assumes new doc ids are disjoint from existing ids (every ingest
    pipeline here satisfies this); the fold-at-read then reproduces
    ``dedup_new_batch``'s full rewrite exactly — pinned in
    tests/test_incremental_dedup.py. Analog: the reference persists
    each window as an incremental WriteBatch, never a full-store
    rewrite (RocksDBStore.cs:99-109).

    ``index_parts`` + ``index_remap`` (from ``read_band_index_parts``)
    are the 100 TB discovery shape: each part joins the batch
    SEPARATELY — a bucketed catalog base plans with ZERO Exchange on
    the corpus side (a folded union would destroy its bucket
    distribution) — and the tiny resolved remap folds onto the edge
    OUTPUT, so stale as-written labels in the base/deltas still
    produce current-cluster edges. Pass either ``index`` (one folded
    DataFrame) or ``index_parts``; parts take precedence."""
    new_bands = lsh_bands(
        minhash_signatures(batch, text_col, id_col, k, n_hashes),
        n_hashes,
        n_bands,
    ).localCheckpoint(eager=True)
    nn = _band_self_pairs(new_bands)
    if index_parts is not None:
        no = None
        for p in index_parts:
            e = new_vs_index_edges(new_bands, p)
            no = e if no is None else no.unionByName(e)
        if no is None:
            no = new_bands.sparkSession.createDataFrame(
                [], "doc_a BIGINT, doc_b BIGINT"
            )
        no = _apply_remap(no, index_remap, "doc_b").distinct()
    else:
        no = new_vs_index_edges(new_bands, index)
    _, assignments, new_rows, remap_delta = _delta_parts(
        batch, new_bands, nn, no, id_col
    )
    return assignments, new_rows, remap_delta


def dedup_new_batch_capped(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket_size: int = 100,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``dedup_new_batch`` with the hot-band guard the accumulating
    index needs: a band bucket's COMBINED size (index rows + batch
    rows) grows monotonically across runs, so one boilerplate band
    eventually makes the discovery join quadratic in exactly the way
    ``minhash_lsh_pairs_capped`` guards against for the one-shot pass.
    Buckets whose combined size exceeds ``max_bucket_size`` are
    excluded from PAIR DISCOVERY (both new-new and new-vs-index) and
    reported on the quarantine channel; the index itself stays
    complete — every new band row is still appended, so a later cap
    raise or exact-dedup pass over the quarantined content loses
    nothing.

    Returns ``(assignments, updated_index, quarantine)``; quarantine
    is one row per oversized bucket (band_id, band_key, bucket_size,
    example_doc_ids). Capping trades recall for a hard bound on join
    fan-out — with no oversized bucket the result EQUALS
    ``dedup_new_batch`` (pinned). At scale the per-bucket index sizes
    come from a maintained count column, not the re-count here."""
    new_bands, nn, no, quarantine = _capped_discovery(
        batch, index, text_col, id_col, k, n_hashes, n_bands,
        max_bucket_size,
    )
    assignments, updated = _fold_delta(
        batch, index, new_bands, nn, no, id_col
    )
    return assignments, updated, quarantine


def _capped_discovery(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_hashes: int,
    n_bands: int,
    max_bucket_size: int,
    index_counts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Hot-band-guarded delta-graph discovery shared by the full and
    delta capped folds: returns (new_bands, nn_edges, no_edges,
    quarantine).

    ``index_counts`` (from ``read_bucket_counts``) supplies the
    index's per-bucket sizes from the MAINTAINED side table, so the
    combined-size computation aggregates O(buckets + batch) rows
    instead of re-counting the corpus each ingest — the at-scale
    shape. Pair discovery and the band append are identical either
    way; only the quarantine report narrows to buckets the BATCH
    touches (its examples sample batch docs) — per-ingest reporting
    of exactly the pairs this ingest skipped, rather than re-listing
    every historically hot bucket each trigger."""
    # the batch's minhash pipeline fans out to four consumers (bucket
    # sizes, quarantine, discovery join, band append) — materialize it
    # once so each downstream action replays a tiny scan, not the
    # signature computation (ADVICE r5; the streaming _process already
    # does the same for assignments)
    new_bands = lsh_bands(
        minhash_signatures(batch, text_col, id_col, k, n_hashes),
        n_hashes,
        n_bands,
    ).localCheckpoint(eager=True)
    if index_counts is not None:
        sizes = (
            bucket_counts(new_bands)
            .unionByName(index_counts)
            .groupBy("band_id", "band_key")
            .agg(F.sum("n_rows").alias("bucket_size"))
        )
        quarantine = (
            new_bands.join(
                sizes.filter(F.col("bucket_size") > max_bucket_size),
                ["band_id", "band_key"],
            )
            .groupBy("band_id", "band_key", "bucket_size")
            .agg(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).alias(
                    "example_doc_ids"
                )
            )
        )
    else:
        combined = new_bands.select(
            "doc_id", "band_id", "band_key"
        ).unionByName(index.select("doc_id", "band_id", "band_key"))
        sizes = combined.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("bucket_size")
        )
        quarantine = (
            combined.join(
                sizes.filter(F.col("bucket_size") > max_bucket_size),
                ["band_id", "band_key"],
            )
            .groupBy("band_id", "band_key", "bucket_size")
            .agg(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, 10
                ).alias("example_doc_ids")
            )
        )
    ok = sizes.filter(F.col("bucket_size") <= max_bucket_size).select(
        "band_id", "band_key"
    )
    if index_counts is not None:
        # discovery only involves buckets the BATCH touches — restrict
        # the cool-bucket list to them so ix_ok below filters the
        # corpus with a batch-sized key set (edges are identical: nn
        # and no edges can only come from batch buckets)
        ok = ok.join(
            new_bands.select("band_id", "band_key").distinct(),
            ["band_id", "band_key"],
        )
    nb_ok = new_bands.join(ok, ["band_id", "band_key"]).select(
        "doc_id", "band_id", "band_key"
    )
    ix_ok = index.join(ok, ["band_id", "band_key"]).select(
        "doc_id", "band_id", "band_key", "cluster"
    )
    nn = _band_self_pairs(nb_ok)
    no = new_vs_index_edges(nb_ok, ix_ok)
    return new_bands, nn, no, quarantine


def dedup_new_batch_capped_delta(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket_size: int = 100,
    index_counts: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``dedup_new_batch_capped`` with O(batch) outputs (the streaming
    ingest path): returns (assignments, new_rows, remap_delta,
    quarantine) — see ``dedup_new_batch_delta`` for the delta contract
    and ``dedup_new_batch_capped`` for the hot-band guard.
    ``index_counts`` (``read_bucket_counts``) replaces the per-ingest
    corpus re-count with the maintained bucket-size table — see
    ``_capped_discovery``."""
    new_bands, nn, no, quarantine = _capped_discovery(
        batch, index, text_col, id_col, k, n_hashes, n_bands,
        max_bucket_size, index_counts,
    )
    _, assignments, new_rows, remap_delta = _delta_parts(
        batch, new_bands, nn, no, id_col
    )
    return assignments, new_rows, remap_delta, quarantine


def exact_dedup_new_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental EXACT dedup: fold a new batch into a persisted
    content-hash index (= ``exact_dedup`` output: content_hash,
    canonical_id, n_copies).

    Returns ``(assignments, updated_index)``: one row per batch doc
    (doc_id, canonical_id, is_duplicate), and the merged index —
    identical to ``exact_dedup`` over the combined corpus (min/sum are
    associative+commutative, so the fold is batching-invariant by
    construction). Plan: one map-side hash pass over the batch, one
    groupBy on content_hash, one full outer merge join against the
    index — all keyed on content_hash, so a bucketed index parquet
    makes the merge co-located at any scale."""
    bh = batch.select(
        F.col(id_col), hash64(F.col(text_col)).alias("content_hash")
    )
    batch_agg = bh.groupBy("content_hash").agg(
        F.min(id_col).alias("_b_min"),
        F.count(F.lit(1)).alias("_b_n"),
    )
    updated = (
        index.join(batch_agg.hint("shuffle_hash"), "content_hash", "full")
        .select(
            "content_hash",
            F.least(
                F.coalesce(F.col("canonical_id"), F.col("_b_min")),
                F.coalesce(F.col("_b_min"), F.col("canonical_id")),
            ).alias("canonical_id"),
            (
                F.coalesce(F.col("n_copies"), F.lit(0))
                + F.coalesce(F.col("_b_n"), F.lit(0))
            ).alias("n_copies"),
        )
    )
    assignments = bh.join(
        updated.select("content_hash", "canonical_id"), "content_hash"
    ).select(
        id_col,
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )
    return assignments, updated


INDEX_SCHEMA = "doc_id BIGINT, band_id INT, band_key STRING, cluster BIGINT"
REMAP_SCHEMA = "old_cluster BIGINT, new_cluster BIGINT"
COUNTS_SCHEMA = "band_id INT, band_key STRING, n_rows BIGINT"


def bucket_counts(bands_df: DataFrame) -> DataFrame:
    """Per-(band_id, band_key) row counts of a band-row DataFrame —
    the maintained side table the hot-band guard consults instead of
    re-aggregating the corpus every ingest."""
    return bands_df.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def write_band_index(index: DataFrame, path: str) -> None:
    """Persist the band index as ONE flat parquet overwrite — the
    batch-scale oracle path. The production layout is the versioned
    append-only tree below (``append_band_index_delta`` /
    ``read_band_index`` / ``compact_band_index``)."""
    index.write.mode("overwrite").parquet(path)


def write_band_index_bucketed(
    index: DataFrame, table: str, n_buckets: int = 32
) -> None:
    """The 100 TB index layout: a catalog table bucketed + in-bucket
    sorted on the discovery join key (band_id, band_key). Every
    subsequent ``dedup_new_batch`` reads it with ZERO index-side
    shuffle — the scan's bucket layout satisfies the join's clustered
    distribution, so only the (small) new batch moves. The same
    write-once-join-forever trade as sources/bucketed for the
    fact-fact join; bucket count is fixed at write time, size it for
    the corpus the index will GROW to."""
    (
        index.write.mode("overwrite")
        .bucketBy(n_buckets, "band_id", "band_key")
        .sortBy("band_id", "band_key")
        .format("parquet")
        .saveAsTable(table)
    )


def _versions(path: str) -> list[int]:
    from tweetaggregates_spark.versioned_store import versions

    return versions(path)


def append_band_index_delta(
    new_rows: DataFrame,
    remap_delta: DataFrame,
    path: str,
    version: int,
) -> None:
    """Persist one ingest's O(batch) delta (VERDICT r5 #1 — the
    at-scale alternative to the full-index rewrite): the batch's band
    rows land at ``bands/v=<version>`` and the (old_cluster ->
    new_cluster) merge log at ``remap/v=<version>``. Bytes written per
    ingest are O(batch + merged clusters), never O(corpus); per-version
    overwrite makes a redelivered ingest idempotent. Reference analog:
    the per-window atomic WriteBatch (RocksDBStore.cs:99-109) —
    incremental, never a full-store rewrite.

    A per-version bucket-count delta also lands at
    ``counts/v=<version>`` (O(batch buckets) rows): summed at read
    (``read_bucket_counts``) it gives the hot-band guard the combined
    bucket sizes WITHOUT re-aggregating the corpus every ingest."""
    # new_rows feeds both the bands write and the bucket-count
    # aggregate; materialize it once (lazy — the bands write is the
    # single-sided first consumer, so no concurrent-materialization
    # race) instead of re-running the bands-to-assignments join for
    # the counts (r15). The bands write runs FIRST and alone (it
    # materializes the checkpoint); the remap and counts writes are
    # then independent jobs over materialized inputs and overlap
    # (guide §2.6).
    new_rows = new_rows.localCheckpoint(eager=False)
    new_rows.write.mode("overwrite").parquet(f"{path}/bands/v={version}")

    def _w_remap() -> None:
        remap_delta.write.mode("overwrite").parquet(
            f"{path}/remap/v={version}"
        )

    def _w_counts() -> None:
        bucket_counts(new_rows).write.mode("overwrite").parquet(
            f"{path}/counts/v={version}"
        )

    run_concurrently(new_rows.sparkSession, [_w_remap, _w_counts])


def read_band_index_parts(
    spark,
    path: str,
    below: int | None = None,
    base_table: str | None = None,
) -> tuple[list[DataFrame], DataFrame | None]:
    """Raw pieces of the versioned band index: ``(parts, remap)`` where
    parts are band-row DataFrames with labels AS WRITTEN (newest base,
    then each later append) and remap is the chain-RESOLVED post-base
    merge log (None when empty). ``read_band_index`` folds these; the
    100 TB discovery path joins the parts SEPARATELY instead —
    ``base_table`` substitutes the bucketed catalog mirror
    (``compact_band_index(bucketed_table=...)``) for the base dir, so
    the corpus-sized side of the join plans with ZERO Exchange, and
    the tiny resolved remap folds onto the join OUTPUT, not the scan."""
    import os

    from tweetaggregates_spark.versioned_store import base_and_deltas

    base, band_vs = base_and_deltas(path, "base", "bands", below)
    _, remap_vs = base_and_deltas(path, "base", "remap", below)
    parts = []
    if base is not None:
        if base_table is not None:
            parts.append(
                spark.table(base_table).select(
                    "doc_id", "band_id", "band_key", "cluster"
                )
            )
        else:
            parts.append(spark.read.parquet(f"{path}/base/v={base}"))
    for v in band_vs:
        parts.append(spark.read.parquet(f"{path}/bands/v={v}"))

    if not remap_vs:
        return parts, None
    logs = [spark.read.parquet(f"{path}/remap/v={v}") for v in remap_vs]
    log = logs[0]
    for lg in logs[1:]:
        log = log.unionByName(lg)
    # chain resolution: old->mid (v_i), mid->new (v_j>i) folds to
    # old->new; one hop per extra remap version suffices because each
    # version's entries already point at that ingest's FINAL labels
    resolved = log
    for _ in range(len(remap_vs) - 1):
        resolved = (
            resolved.alias("r")
            .join(
                F.broadcast(
                    log.select(
                        F.col("old_cluster").alias("_o"),
                        F.col("new_cluster").alias("_n"),
                    )
                ),
                F.col("r.new_cluster") == F.col("_o"),
                "left",
            )
            .select(
                F.col("r.old_cluster").alias("old_cluster"),
                F.coalesce(F.col("_n"), F.col("r.new_cluster")).alias(
                    "new_cluster"
                ),
            )
        )
    return parts, resolved


def _apply_remap(df: DataFrame, resolved: DataFrame | None, col: str) -> DataFrame:
    """Fold the chain-resolved remap log onto ``col`` via a broadcast
    left join (merged-clusters-sized, never shuffles ``df``)."""
    if resolved is None:
        return df
    others = [c for c in df.columns if c != col]
    return (
        df.join(
            F.broadcast(resolved.withColumnRenamed("old_cluster", col)),
            col,
            "left",
        )
        .select(
            *others,
            F.coalesce(F.col("new_cluster"), F.col(col)).alias(col),
        )
        .select(*df.columns)
    )


def read_bucket_counts(
    spark, path: str, below: int | None = None
) -> DataFrame | None:
    """The maintained bucket-size side table: sum of the per-version
    count deltas covering the current index state (newest base + later
    appends, < ``below``). Returns None when any needed version's
    counts are missing (older layouts, or a crash between a base
    commit and its counts write) — callers fall back to re-counting
    from the band rows. The summed table is #distinct-buckets-sized
    and the fold is one groupBy over O(buckets) rows, never a corpus
    aggregation."""

    from tweetaggregates_spark.versioned_store import base_and_deltas

    base, band_vs = base_and_deltas(path, "base", "bands", below)
    needed = ([base] if base is not None else []) + band_vs
    if not needed:
        return spark.createDataFrame([], COUNTS_SCHEMA)
    have = set(_versions(f"{path}/counts"))
    if any(v not in have for v in needed):
        return None
    out = None
    for v in needed:
        part = spark.read.parquet(f"{path}/counts/v={v}")
        out = part if out is None else out.unionByName(part)
    return out.groupBy("band_id", "band_key").agg(
        F.sum("n_rows").alias("n_rows")
    )


def read_band_index(spark, path: str, below: int | None = None) -> DataFrame:
    """Read the band index, folding the remap log at read time.

    Layouts: the versioned tree (``base/v=N`` compacted bases +
    ``bands/v=N`` per-ingest appends + ``remap/v=N`` merge logs) when
    present, else a legacy flat parquet dir. ``below`` restricts to
    versions < below — the streaming replay contract (a redelivered
    batch must see exactly the pre-batch index).

    The fold: band rows union (newest base + later appends); the remap
    log (merged-clusters-sized — it grows with cluster MERGES, not the
    corpus, and compaction clears it) is chain-resolved with V-1 tiny
    broadcast self-joins (a chain gains at most one hop per ingest, so
    V remap versions bound chain length) and broadcast-joined onto the
    band rows. The corpus-sized side is never shuffled."""
    import os

    if not (
        os.path.isdir(f"{path}/bands") or os.path.isdir(f"{path}/base")
    ):
        if os.path.isdir(path):
            return spark.read.parquet(path)  # legacy flat layout
        return spark.createDataFrame([], INDEX_SCHEMA)
    parts, resolved = read_band_index_parts(spark, path, below)
    if not parts:
        return spark.createDataFrame([], INDEX_SCHEMA)
    bands = parts[0]
    for p in parts[1:]:
        bands = bands.unionByName(p)
    return _apply_remap(bands, resolved, "cluster")


def compact_band_index(
    spark,
    path: str,
    quarantine_path: str | None = None,
    max_bucket_size: int | None = None,
    below: int | None = None,
    bucketed_table: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Offline maintenance for the versioned band index: materialize
    the folded index as a new base and clear the appends + remap log,
    so read-time fold cost resets to one scan. Returns the compacted
    index DataFrame.

    Crash-safe: the base writes to a hidden temp dir and COMMITS via
    an atomic rename into ``base/v=<newest folded version>``; a crash
    before the rename leaves the old tree fully readable, a crash
    after it leaves stale deltas <= base that readers already ignore.
    (On an object store without atomic rename, commit via a manifest
    instead — same pattern as the aggregate store's swap.)

    With ``quarantine_path`` + ``max_bucket_size`` (VERDICT r5 #8) the
    pass also RE-ADMITS quarantined hot bands that now fit the cap
    (the cap was raised, or the corpus cooled relative to it): for
    each re-admitted bucket the skipped pair discovery replays over
    the complete index — the index keeps every band row even for
    quarantined buckets, so nothing was lost — connecting the
    clusters it should have merged; still-hot buckets are merged into
    one compacted quarantine dir with re-counted sizes.

    ``below`` bounds the fold to versions < below — the INLINE
    compaction contract for a running stream: compacting at the START
    of trigger N with ``below=N`` folds only fully-committed triggers,
    so a replay of trigger N (which reads ``below=N``) still sees
    exactly the pre-batch index. Never inline-compact through the
    trigger currently being processed.

    ``bucketed_table`` additionally mirrors the new base into a
    catalog table bucketed + sorted on (band_id, band_key) — the
    layout whose scan satisfies the discovery join's distribution, so
    subsequent ingests (``read_band_index_parts(base_table=...)`` +
    ``dedup_new_batch_delta(index_parts=...)``) join the corpus side
    with ZERO Exchange. Written AFTER the base commit; on failure the
    base dir remains authoritative."""
    import os
    import shutil

    from tweetaggregates_spark.operators.cluster import connected_components

    assert not (below is not None and quarantine_path is not None), (
        "quarantine re-admission is an OFFLINE maintenance pass — an "
        "inline (below-bounded) compaction would merge/delete "
        "quarantine trees of triggers not yet committed"
    )
    folded = read_band_index(spark, path, below=below)
    q_merged = None
    if quarantine_path is not None and os.path.isdir(quarantine_path):
        assert max_bucket_size is not None, (
            "quarantine re-admission needs max_bucket_size"
        )
        quarantined = (
            spark.read.parquet(quarantine_path)
            .select("band_id", "band_key")
            .distinct()
        )
        sizes = (
            folded.join(quarantined, ["band_id", "band_key"])
            .groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("bucket_size"))
        )
        cool = sizes.filter(F.col("bucket_size") <= max_bucket_size)
        # replay the skipped discovery for re-admitted buckets at
        # CLUSTER level: docs inside one bucket whose clusters differ
        # should have merged — the edge list is cluster x cluster
        # within each re-admitted bucket, bounded by the cap
        rows = folded.join(
            cool.select("band_id", "band_key"), ["band_id", "band_key"]
        ).select("band_id", "band_key", "cluster")
        a = rows.alias("a")
        b = rows.alias("b").hint("shuffle_hash")
        edges = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.cluster") < F.col("b.cluster")),
            )
            .select(
                F.col("a.cluster").alias("doc_a"),
                F.col("b.cluster").alias("doc_b"),
            )
            .distinct()
        )
        labels = connected_components(edges)
        folded = (
            folded.join(
                F.broadcast(labels.withColumnRenamed("node", "cluster")),
                "cluster",
                "left",
            )
            .select(
                "doc_id",
                "band_id",
                "band_key",
                F.coalesce(F.col("cluster_id"), F.col("cluster")).alias(
                    "cluster"
                ),
            )
        )
        # merged quarantine tree: still-hot buckets only, sizes
        # re-counted from the index, example samples merged
        hot = sizes.filter(F.col("bucket_size") > max_bucket_size)
        q_merged = (
            folded.join(
                hot, ["band_id", "band_key"]
            )
            .groupBy("band_id", "band_key", "bucket_size")
            .agg(
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, 10
                ).alias("example_doc_ids")
            )
        ).localCheckpoint(eager=True)

    from tweetaggregates_spark import versioned_store as vstore

    b, band_vs = vstore.base_and_deltas(path, "base", "bands", below)
    _, remap_vs = vstore.base_and_deltas(path, "base", "remap", below)
    if b is not None and not band_vs and not remap_vs and q_merged is None:
        # nothing folded beyond the existing base and no quarantine
        # relabeling: recommitting would replace base/v=<b> in place
        # (rmtree + rename), whose crash window briefly has NO base on
        # disk — skip the no-op commit, but still honor the
        # bucketed_table mirror request (callers rely on this path to
        # create/refresh the catalog mirror that
        # read_band_index_parts(base_table=...) reads; before the
        # no-op skip existed, every call wrote it)
        if bucketed_table is not None:
            write_band_index_bucketed(folded, bucketed_table, n_buckets)
        return folded
    all_vs = band_vs + remap_vs + ([b] if b is not None else [])
    if not all_vs:
        return folded
    newv = max(all_vs)
    target = f"{path}/base/v={newv}"
    # allow_replace: quarantine re-admission can relabel clusters
    # without any new delta version, so the fold legitimately replaces
    # the base at its own version
    vstore.commit_bases(path, [("base", folded)], newv, allow_replace=True)
    vstore.cleanup_after_compact(
        path,
        delta_subs=["bands", "remap", "counts"],
        base_subs=["base"],
        newv=newv,
    )
    # the base's bucket counts (a crash before this write just makes
    # read_bucket_counts return None and callers re-count)
    bucket_counts(spark.read.parquet(target)).write.mode(
        "overwrite"
    ).parquet(f"{path}/counts/v={newv}")

    if q_merged is not None:
        import re

        batch_dirs = [
            d
            for d in os.listdir(quarantine_path)
            if re.fullmatch(r"batch_id=\d+", d)
        ]
        maxbatch = max(
            int(d.split("=")[1]) for d in batch_dirs
        ) if batch_dirs else 0
        qtmp = f"{quarantine_path}/.compact_tmp"
        shutil.rmtree(qtmp, ignore_errors=True)
        q_merged.write.mode("overwrite").parquet(qtmp)
        for d in batch_dirs:
            shutil.rmtree(f"{quarantine_path}/{d}", ignore_errors=True)
        os.rename(qtmp, f"{quarantine_path}/batch_id={maxbatch}")
    out = spark.read.parquet(target)
    if bucketed_table is not None:
        write_band_index_bucketed(out, bucketed_table, n_buckets)
    return out


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental exact dedup (round 7)
# ---------------------------------------------------------------------------

def _bloom_positions(col: Column, n_bits: int, n_hashes: int) -> list[Column]:
    """k bit positions for a value: pmod(xxhash64(value, seed_i), m).
    xxhash64 is JVM-side and vectorizes in whole-stage codegen; the
    seed literal makes the k functions independent."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(n_bits))
        for i in range(n_hashes)
    ]


def bloom_build(
    df: DataFrame,
    col: str | Column,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over a column as a ONE-ROW DataFrame holding
    a map<slot, 32-bit mask> (packed little-endian: bit b of slot s is
    position s*32+b). The build is one explode (k positions per row)
    plus one groupBy(slot) bit_or — fully distributed, map-side
    partial-aggregated; only the final n_bits/32-row fold reaches one
    task. The packed map is n_bits/8 bytes — broadcastable.

    Scale rule: size n_bits ~ 10 x |distinct keys| for ~1% FP. The
    explicit map broadcast works to ~10^9 bits (128 MB); beyond that,
    skip the prefilter and let the anti-join (or Spark's own injected
    runtime bloom filter, spark.sql.optimizer.runtime.bloomFilter.*)
    do the work — the semantics here never depend on the bloom."""
    return pack_bloom(bloom_slots(df, col, n_bits, n_hashes))


def bloom_slots(
    df: DataFrame,
    col: str | Column,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """The bloom in its MERGEABLE long form: (slot, mask) rows. Two
    filters with the same (n_bits, n_hashes) union by re-aggregating
    bit_or per slot — the property a versioned on-disk bloom sidecar
    needs (fold at read, compact by rewrite)."""
    c = F.col(col) if isinstance(col, str) else col
    pos = F.explode(F.array(*_bloom_positions(c, n_bits, n_hashes)))
    return (
        df.select(pos.alias("_p"))
        .select(
            F.floor(F.col("_p") / 32).alias("slot"),
            # 2^bit exact as double up to 2^31, cast back to long
            F.pow(F.lit(2.0), F.pmod(F.col("_p"), F.lit(32)))
            .cast("long")
            .alias("_m"),
        )
        .groupBy("slot")
        .agg(F.bit_or("_m").alias("mask"))
    )


def pack_bloom(slots: DataFrame) -> DataFrame:
    """Pack (slot, mask) rows into the one-row broadcastable map that
    bloom_might_contain consumes; re-aggregates so unioned versioned
    slot tables fold correctly."""
    return (
        slots.groupBy("slot")
        .agg(F.bit_or("mask").alias("mask"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("slot", "mask"))
            ).alias("bloom")
        )
    )


def bloom_might_contain(
    col: Column, bloom_col: Column, n_bits: int, n_hashes: int
) -> Column:
    """Membership test against a packed bloom map column: true iff all
    k bits are set. False means DEFINITELY absent (no false negatives);
    true means 'present or false positive'. Pure column expression —
    k xxhash64 calls + k map lookups per row, no shuffle."""
    test = None
    for p in _bloom_positions(col, n_bits, n_hashes):
        slot = F.floor(p / 32)
        bit_mask = F.pow(F.lit(2.0), F.pmod(p, F.lit(32))).cast("long")
        m = F.coalesce(F.element_at(bloom_col, slot), F.lit(0).cast("long"))
        t = m.bitwiseAND(bit_mask) != F.lit(0)
        test = t if test is None else test & t
    return test


def bloom_dedup_new_batch(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Batch docs whose content hash does NOT appear in the history
    corpus — exact semantics with a Bloom prefilter doing the heavy
    pruning (the 'exclude known hashes' pattern every continuously-
    ingesting pipeline runs before its dedup join).

    Plan: the history builds a packed bloom over hash64(text) (one
    aggregation, result broadcast via a 1-row crossJoin); every batch
    row tests map-side. Bloom-NEGATIVE rows are definitely new and
    BYPASS the join entirely; only bloom-positive rows (true dups +
    ~FP-rate of the batch) anti-join the history hash set. Exactness
    never depends on the bloom: with an all-ones bloom the plan
    degrades to the plain anti-join, with an empty one nothing joins
    — pinned in tests/test_bloom_dedup.py, including a forced-FP tiny
    filter. At 100 TB the anti-join's probe side shrinks from |batch|
    to |batch dups| + eps, and the history side stays a hash-bucketed
    index so the residual join co-locates.

    Output: (doc_id, content_hash) of the definitely-new batch docs.
    Analog: the reference dedups replayed tweets by id before folding
    aggregates (TweetGateCore dedup-on-replay semantics); this is the
    content-hash generalization."""
    bh = batch.select(
        F.col(id_col), hash64(F.col(text_col)).alias("content_hash")
    )
    hist_hash = history.select(hash64(F.col(text_col)).alias("content_hash"))
    if bloom is None:
        # production amortizes the build: pass a prebuilt/persisted
        # bloom_build result (with matching n_bits/n_hashes) to skip
        # the history aggregation entirely
        bloom = bloom_build(hist_hash, "content_hash", n_bits, n_hashes)
    tested = bh.crossJoin(F.broadcast(bloom)).withColumn(
        "_might",
        bloom_might_contain(
            F.col("content_hash"), F.col("bloom"), n_bits, n_hashes
        ),
    )
    negatives = tested.filter(~F.col("_might")).select(id_col, "content_hash")
    positives = (
        tested.filter(F.col("_might"))
        .select(id_col, "content_hash")
        .join(hist_hash.hint("shuffle_hash"), "content_hash", "left_anti")
        .select(id_col, "content_hash")
    )
    return negatives.unionByName(positives)


HASH_INDEX_SCHEMA = "content_hash BIGINT, canonical_id BIGINT, n_copies BIGINT"


def fold_hash_index(versions: DataFrame) -> DataFrame:
    """Merge versioned content-hash index rows: min canonical, summed
    copies — both associative+commutative, so ANY grouping of the
    corpus into versions folds to the same index (batching-invariance
    for free; same contract as exact_dedup over the union)."""
    return versions.groupBy("content_hash").agg(
        F.min("canonical_id").alias("canonical_id"),
        F.sum("n_copies").cast("long").alias("n_copies"),
    )


def exact_dedup_new_batch_bloom(
    batch: DataFrame,
    index: DataFrame,
    bloom: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup with a Bloom-pruned canonical lookup:
    like ``exact_dedup_new_batch`` but (a) the batch's DEFINITELY-NEW
    hash groups (bloom-negative) skip the index join entirely, and
    (b) the index delta is O(batch): the returned ``new_rows`` are
    just the batch's per-hash (min id, count) groups — read-time
    ``fold_hash_index`` merges them with every older version.

    Returns (assignments, new_rows): one (doc_id, canonical_id,
    is_duplicate) row per batch doc, and the O(batch) version rows to
    append. ``bloom`` is the packed one-row map from ``bloom_build``
    over the index's hashes (None = no filter, every group probes).
    Exactness never depends on the bloom (no false negatives; false
    positives just probe and miss)."""
    bh = batch.select(
        F.col(id_col), hash64(F.col(text_col)).alias("content_hash")
    )
    batch_agg = bh.groupBy("content_hash").agg(
        F.min(id_col).alias("_b_min"),
        F.count(F.lit(1)).alias("_b_n"),
    )
    if bloom is not None:
        tested = batch_agg.crossJoin(F.broadcast(bloom)).withColumn(
            "_might",
            bloom_might_contain(
                F.col("content_hash"), F.col("bloom"), n_bits, n_hashes
            ),
        )
        neg = tested.filter(~F.col("_might")).select(
            "content_hash", F.col("_b_min").alias("canonical_id")
        )
        pos = tested.filter(F.col("_might")).select(
            "content_hash", "_b_min"
        )
    else:
        neg = None
        pos = batch_agg.select("content_hash", "_b_min")
    probed = pos.join(
        index.select("content_hash", F.col("canonical_id").alias("_old")),
        "content_hash",
        "left",
    ).select(
        "content_hash",
        F.least(
            F.coalesce(F.col("_old"), F.col("_b_min")),
            F.coalesce(F.col("_b_min"), F.col("_old")),
        ).alias("canonical_id"),
    )
    canon = probed if neg is None else neg.unionByName(probed)
    assignments = bh.join(canon, "content_hash").select(
        id_col,
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )
    new_rows = batch_agg.select(
        "content_hash",
        F.col("_b_min").alias("canonical_id"),
        F.col("_b_n").cast("long").alias("n_copies"),
    )
    return assignments, new_rows


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm). Complements the existing near-dup family: MinHash
# estimates whole-document Jaccard, SimHash whole-document cosine-ish
# similarity, substring_dup_pairs finds fixed-length verbatim spans;
# winnowing selects a POSITIONAL sketch with a coverage guarantee — any
# shared token run of length >= w + k - 1 is certain to produce at least
# one shared fingerprint (the paper's detection guarantee for basic
# winnowing with a content-local tie-break).
# ---------------------------------------------------------------------------


def _winnow_picked(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Pre-distinct winnowing selection: one (doc_id, fp_hash, fp_pos)
    row per full hash window (adjacent windows usually re-select the
    same hash — consumers distinct at their own grain)."""
    from pyspark.sql import Window as W

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            word_shingles(tokens(F.col(text_col)), k)
        ).alias("pos", "shingle"),
    ).select("doc_id", "pos", hash64(F.col("shingle")).alias("h"))
    frame = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.currentRow, w - 1)
    )
    # rightmost-min via min(struct(h, -pos)): minimum hash first, then
    # the greatest position among equal hashes — pure codegen, no UDF
    picked = sh.select(
        "doc_id",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("negpos"))).over(
            frame
        ).alias("m"),
        F.count(F.lit(1)).over(frame).alias("n_in_win"),
    ).where(F.col("n_in_win") == w)
    return picked.select(
        "doc_id",
        F.col("m.h").alias("fp_hash"),
        (-F.col("m.negpos")).alias("fp_pos"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint set.

    Algorithm (basic winnowing, rightmost-min tie-break): hash every
    k-token shingle, slide a window of ``w`` consecutive shingle hashes
    over the document, and in each window select the minimum hash —
    ties broken by the RIGHTMOST occurrence, which depends only on the
    window's content, so two documents sharing a run of >= w + k - 1
    tokens share at least one full hash window and therefore select at
    least one identical (hash, in-run offset) fingerprint.

    Plan shape: one posexplode -> a per-document sliding window (the
    window is partitioned by doc_id — document-bounded state, never a
    global sort) -> distinct. Documents with fewer than w + k - 1
    tokens yield no fingerprints (below the guarantee threshold t, by
    design — the paper's noise floor).

    Output: (doc_id, fp_hash, fp_pos) — fp_pos is the shingle offset of
    the selected hash, kept so downstream alignment (which run matched)
    stays possible; one row per distinct selected (hash, pos).
    """
    return _winnow_picked(df, text_col, id_col, k, w).distinct()


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    threshold: float = 0.2,
    max_fp_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: for every pair
    sharing >= 1 selected hash, report the shared-fingerprint count and
    ``overlap`` = shared / min(|fp_a|, |fp_b|) (containment-style, so a
    small doc fully embedded in a large one still scores 1.0), kept at
    ``overlap >= threshold``.

    Scale: the self-join key is the fingerprint hash — bucket-local,
    identical shape to the LSH band join; winnowing selects ~2/(w+1) of
    all shingle hashes, so the joined table is a fraction of the full
    shingle join ngram_jaccard_pairs pays. Boilerplate fingerprints
    shared by thousands of docs are the same hot-key hazard as hot LSH
    bands — ``max_fp_freq`` drops fingerprints seen in more than that
    many docs (overlap becomes a lower bound; the distinctive-content
    guarantee is unaffected because a >= t-token distinctive run still
    contributes its own cool fingerprint).
    """
    fps = (
        _winnow_picked(df, text_col, id_col, k, w)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    if max_fp_freq is not None:
        cool = (
            fps.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_fp_freq)
            .select("fp_hash")
        )
        fps = fps.join(cool.hint("shuffle_hash"), "fp_hash")
        # the cap path stacks a groupBy+join on the already-deep
        # explode/window/distinct chain and THREE consumers follow
        # (sizes, both join sides) — 27 shuffles re-derived without a
        # barrier; a LAZY localCheckpoint shares the capped frame
        # (measured: 27 -> ~11 exchanges, flat wall at sf0.1). The
        # UNCAPPED chain stays pure recompute: its chain is map-heavy
        # and re-deriving it measures CHEAPER than materializing the
        # fingerprint set (7.8 vs 9.1 s at sf1).
        fps = fps.localCheckpoint(eager=False)
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp_hash").hint(
        "shuffle_hash"
    )
    shared = (
        a.join(b, ["fp_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    overlap = F.round(
        F.col("n_shared") / F.least("n_fp_a", "n_fp_b"), 6
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            overlap.alias("overlap"),
        )
        .where(F.col("overlap") >= threshold)
    )


def pair_recall(truth: DataFrame, candidates: DataFrame) -> DataFrame:
    """Candidate-quality metric for the dedup family — the analogue of
    similarity.ann_recall for pair generators: given ground-truth dup
    pairs and a candidate pair set (both carrying doc_a < doc_b),
    report one row of corpus-level counts — recall (true pairs the
    candidate stage would have surfaced for verification) and precision
    (candidate pairs that are genuinely dups). THE two numbers to tune
    (n_hashes, bands) against: LSH banding trades exactly these off.

    Plan shape: both inputs are pair-sized (far smaller than the
    corpus); one inner join on the pair key + two counts, all
    partial-aggregated. The expensive parts are the two pair inputs
    this composes — at 100 TB ground truth comes from a sampled audit
    slice, never the full quadratic join.

    Both projections are made distinct on (doc_a, doc_b) here: a
    duplicate row in either input would otherwise multiply through the
    inner join and inflate n_hit/n_truth/n_cand (ADVICE r10). Cheap —
    inputs are pair-sized."""
    # No checkpoint here — measured r16 (VERDICT r15 #1). Each side
    # IS consumed twice (hit join + its own count), but both
    # consumers share one job and each `distinct()` ends in an
    # Exchange on exactly (doc_a, doc_b) — the hit join's key — so
    # AQE's runtime stage cache computes each upstream pair generator
    # ONCE and only the post-exchange aggregate tails run per
    # consumer (the r15 "re-ran both generators per consumer" premise
    # did not hold). The r15 eager localCheckpoints replaced that
    # free in-job sharing with 2 serial blocking driver jobs; the r15
    # bench showed sustained consumer regressions vs round-open
    # (oph_lsh_recall 3.12 -> 3.6-4.4 s across six runs), and the r16
    # interleaved A/B measured the no-checkpoint shape at parity or
    # better (lsh_recall eager 4.15/5.30 vs none 4.61/4.82 medians —
    # inside the same-code control band — with two fewer blocking
    # jobs; ann_recall's analogous revert measured 15-20% faster).
    t = truth.select("doc_a", "doc_b").distinct()
    c = candidates.select("doc_a", "doc_b").distinct()
    hit = t.join(c, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    stats = (
        t.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(hit)
    )
    return stats.select(
        "n_truth",
        "n_cand",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_cand"), F.lit(1)), 6
        ).alias("precision"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff for dataset VERSIONING (round 12): given two
    corpus snapshots, classify every doc id as 'added' (new only),
    'removed' (old only), 'changed' (same id, different content
    hash), or 'unchanged' — the audit a training-data pipeline runs
    between crawl snapshots before deciding what to re-process
    (downstream incremental dedup/index appends consume exactly the
    added+changed slice).

    Plan shape: each side reduces to (id, content hash) map-side —
    the text never shuffles — then ONE full-outer equi-join on the
    id. Output: (doc_id, status, old_hash, new_hash), one row per doc
    present in either snapshot."""
    o = old.select(
        F.col(id_col).alias("doc_id"),
        hash64(F.col(text_col)).alias("old_hash"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        hash64(F.col(text_col)).alias("new_hash"),
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", status.alias("status"), "old_hash", "new_hash")


def lsh_plan_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Closed-form LSH parameter PLANNER checked against measurement
    (VERDICT r11 #4): ``pair_recall`` tells you what recall the
    (n_hashes, n_bands) choice DID achieve; this operator also tells
    you what the banding theory says it SHOULD achieve, so band/row
    choices are derived from the corpus' similarity profile instead of
    guessed. For a pair with true Jaccard s, b bands of r rows
    candidate it with probability 1 - (1 - s^r)^b (the MMDS s-curve);
    the planned recall is the mean of that curve over the TRUE pair
    set (s >= threshold), and the measured recall is the fraction of
    true pairs the actual minhash banding surfaced. The gap between
    them is binomial sampling noise plus minhash's own estimation
    variance — a pinned bound in tests; a blown bound means the
    implementation no longer matches the theory it was sized by.

    Plan shape: the truth side (exact Jaccard) is the documented
    quadratic baseline — run this audit on a sampled slice (the
    registered entry uses the 'lshaudit' 20% hash-sample, so truth
    cost tracks the sample); the planned/measured fold is one
    left join of pair-sized tables + a 1-row aggregate. The per-pair
    s-curve value rounds to 9 dp and sums through DECIMAL(28,12)
    (order-free, twin-exact).

    Output (one row): n_bands, rows_per_band, threshold, n_truth,
    n_hit, planned_recall, measured_recall, gap (measured - planned,
    both already rounded 6 dp)."""
    r = n_hashes // n_bands
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, k=k, threshold=threshold
    ).select("doc_a", "doc_b", "jaccard")
    cand = (
        minhash_lsh_pairs(
            df, text_col, id_col, k=k, n_hashes=n_hashes, n_bands=n_bands
        )
        .withColumn("_hit", F.lit(1))
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "left")
    p9 = F.round(
        F.lit(1.0)
        - F.pow(
            F.lit(1.0) - F.pow(F.col("jaccard"), F.lit(float(r))),
            F.lit(float(n_bands)),
        ),
        9,
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce(
                F.sum(p9.cast("decimal(28,12)")).cast("double"), F.lit(0.0)
            )
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("planned_recall"),
    )
    return agg.select(
        F.lit(n_bands).alias("n_bands"),
        F.lit(r).alias("rows_per_band"),
        F.lit(float(threshold)).alias("threshold"),
        "n_truth",
        "n_hit",
        "planned_recall",
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
        ).alias("measured_recall"),
        F.round(
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
            )
            - F.col("planned_recall"),
            6,
        ).alias("gap"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (the Rabin/Gear-CDC family used by dedup file
# systems and dataset pipelines): chunk boundaries are a PREDICATE ON
# CONTENT (k-gram hash divisibility), not fixed offsets — so two
# documents sharing a long token run chunk that run IDENTICALLY no
# matter where it sits, and sub-document duplication falls out of a
# plain chunk-hash groupBy. Granularity sits between exact_dedup (whole
# doc) and substring_dup_pairs (fixed spans).
# ---------------------------------------------------------------------------


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
    base: DataFrame | None = None,
) -> DataFrame:
    """Split every document into content-defined chunks.

    A cut falls AFTER token t when the k-gram ENDING at t hashes to 0
    mod divisor (expected chunk length ~ divisor tokens); chunks are
    therefore a true PARTITION of the token stream — every token in
    exactly one chunk, and a document shorter than k tokens is one
    whole-doc chunk (no k-gram, no cut). Because the cut predicate
    reads only the k tokens behind it, two documents sharing a run
    longer than a chunk cut that run identically — the CDC property.

    Plan shape: one posexplode of per-position boundary flags (the
    ending k-gram hashes inline, map-only) -> a per-doc exclusive
    cumulative sum (window partitioned by doc_id — doc-bounded) ->
    one groupBy (doc, seg) for spans -> a doc_id join back to the
    token arrays to slice the chunk text. Chunk hashes use the
    portable hash64, so the DuckDB twin reproduces them bit-for-bit.

    Output: (doc_id, seg_id, start_pos, end_pos, n_tokens_chunk,
    chunk_hash) with token positions 0-based inclusive."""
    from pyspark.sql import Window as W

    # the tokenize pass feeds both the boundary-flag explode and the
    # span join-back below; materialize it once (r15 — callers that
    # also need the token arrays, e.g. the trim reassembly, pass their
    # own checkpointed ``base`` so the whole query tokenizes ONCE)
    if base is None:
        base = df.select(
            F.col(id_col).alias("doc_id"),
            tokens(F.col(text_col)).alias("toks"),
        ).localCheckpoint(eager=False)
    n = F.size(F.col("toks"))
    flags = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda t: F.when(
                t >= k - 1,
                (
                    F.pmod(
                        hash64(
                            F.concat_ws(
                                " ",
                                F.slice(
                                    F.col("toks"),
                                    (t - (k - 2)).cast("int"),
                                    k,
                                ),
                            )
                        ),
                        F.lit(divisor),
                    )
                    == 0
                ).cast("int"),
            ).otherwise(F.lit(0)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    tok = base.select(
        "doc_id", F.posexplode(flags).alias("pos", "is_cut_after")
    )
    wprev = (
        W.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seg = tok.select(
        "doc_id",
        "pos",
        F.coalesce(F.sum("is_cut_after").over(wprev), F.lit(0)).alias(
            "seg_id"
        ),
    )
    spans = seg.groupBy("doc_id", "seg_id").agg(
        F.min("pos").alias("start_pos"),
        F.max("pos").alias("end_pos"),
    )
    return spans.join(base, "doc_id").select(
        "doc_id",
        "seg_id",
        "start_pos",
        "end_pos",
        (F.col("end_pos") - F.col("start_pos") + 1).alias("n_tokens_chunk"),
        hash64(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    (F.col("start_pos") + 1).cast("int"),
                    (F.col("end_pos") - F.col("start_pos") + 1).cast("int"),
                ),
            )
        ).alias("chunk_hash"),
    )


def cdc_dup_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
) -> DataFrame:
    """Cross-document duplicated chunks: every chunk hash appearing in
    more than one document, with occurrence counts and the canonical
    (minimum) doc id — the sub-document analogue of exact_dedup, and
    the discovery table a chunk-level trim pass (Lee et al. 2022 style
    removal) consumes.

    Scale: one (chunk_hash, doc_id) shuffle with map-side partial
    aggregation — the corpus text never moves, only span hashes."""
    chunks = cdc_chunks(df, text_col, id_col, k, divisor)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("canonical_id"),
            F.max("n_tokens_chunk").alias("n_tokens_chunk"),
        )
        .filter(F.col("n_docs") > 1)
    )


def cdc_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
) -> DataFrame:
    """The EXECUTED chunk-level dedup (the repo convention: every
    detector ships its executed filter; Lee et al. 2022 motivation —
    remove duplicated spans, don't just find them): every CDC chunk
    keeps exactly ONE occurrence corpus-wide — the minimum
    (doc_id, seg_id) — and each document is reassembled from its
    surviving chunks in order. Within-doc repeats trim too (they are
    occurrences of the same hash). Every input document stays visible;
    a fully-duplicated late copy comes back with empty text and its
    drop count.

    Plan shape on top of cdc_chunks: one chunk_hash groupBy for the
    keeper (min struct — partial-aggregated), an equi-join back on the
    hash, and a per-doc ordered reassembly (collect_list of
    (seg_id, span) structs, doc-bounded state).

    Output: (doc_id, n_chunks, n_chunks_kept, n_tokens_kept,
    text_deduped)."""
    # one tokenize (shared with cdc_chunks) and one chunking pass
    # (consumed by the keeper aggregate AND the join back), each
    # materialized once instead of recomputed per consumer (r15)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    ).localCheckpoint(eager=False)
    chunks = cdc_chunks(
        df, text_col, id_col, k, divisor, base=base
    ).localCheckpoint(eager=False)
    keeper = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "seg_id")).alias("m")
    )
    marked = chunks.join(keeper.hint("shuffle_hash"), "chunk_hash").select(
        "doc_id",
        "seg_id",
        "start_pos",
        "end_pos",
        "n_tokens_chunk",
        (
            (F.col("doc_id") == F.col("m.doc_id"))
            & (F.col("seg_id") == F.col("m.seg_id"))
        ).alias("keep"),
    )
    return _cdc_reassemble(base, marked)


def substring_trim(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
    min_span_tokens: int = 20,
) -> DataFrame:
    """Exact-substring span trim — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) shape on the CDC machinery (VERDICT r11 #3):
    remove duplicated SPANS of at least ``min_span_tokens`` tokens
    while keeping the surrounding unique text AND short incidental
    overlaps. ``cdc_trim`` drops every non-keeper occurrence of every
    shared chunk; real curation wants span granularity — a document
    quoting one idiomatic 8-token phrase is not duplication, a
    document embedding a 200-token boilerplate block is.

    Approximation contract: duplicated spans are detected as MAXIMAL
    RUNS of consecutive non-keeper shared CDC chunks. The CDC property
    makes a genuinely shared run longer than a chunk cut identically
    in both occurrences, so a duplicated span of S tokens is detected
    with granularity one chunk (~divisor tokens) at each edge; a run
    whose chunks are shared with DIFFERENT partners is still treated
    as one span (conservative — it is duplicated text either way).
    Keeper occurrences (the corpus-wide min (doc_id, seg_id) per
    chunk) are never trimmed, so every duplicated span survives
    somewhere — the ExactSubstr keep-one convention.

    Plan shape on top of cdc_chunks: one chunk_hash groupBy (keeper +
    occurrence count, partial-aggregated), an equi-join back, then two
    DOC-BOUNDED windows (gaps-and-islands run id via a prefix sum,
    run-token totals per (doc, run)) and the shared ``_cdc_reassemble``
    tail — nothing corpus-quadratic, no driver state.

    Output: (doc_id, n_chunks, n_chunks_kept, n_tokens_kept,
    text_deduped) — the cdc_trim contract."""
    from pyspark.sql import Window as W

    # one tokenize (shared with cdc_chunks) and one chunking pass
    # (consumed by the keeper aggregate AND the join back), each
    # materialized once instead of recomputed per consumer (r15)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    ).localCheckpoint(eager=False)
    chunks = cdc_chunks(
        df, text_col, id_col, k, divisor, base=base
    ).localCheckpoint(eager=False)
    keeper = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "seg_id")).alias("m"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    cnd = chunks.join(keeper.hint("shuffle_hash"), "chunk_hash").select(
        "doc_id",
        "seg_id",
        "start_pos",
        "end_pos",
        "n_tokens_chunk",
        (
            (F.col("n_occ") > 1)
            & ~(
                (F.col("doc_id") == F.col("m.doc_id"))
                & (F.col("seg_id") == F.col("m.seg_id"))
            )
        ).alias("cand"),
    )
    wgrp = (
        W.partitionBy("doc_id")
        .orderBy("seg_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grp = cnd.withColumn(
        "_g",
        F.sum(F.when(F.col("cand"), 0).otherwise(1)).over(wgrp),
    )
    wrun = W.partitionBy("doc_id", "_g")
    runs = grp.withColumn(
        "_run_tokens",
        F.sum(
            F.when(F.col("cand"), F.col("n_tokens_chunk")).otherwise(0)
        ).over(wrun),
    )
    marked = runs.select(
        "doc_id",
        "seg_id",
        "start_pos",
        "end_pos",
        "n_tokens_chunk",
        (
            ~F.col("cand") | (F.col("_run_tokens") < min_span_tokens)
        ).alias("keep"),
    )
    return _cdc_reassemble(base, marked)


def _cdc_reassemble(base: DataFrame, marked: DataFrame) -> DataFrame:
    """Shared tail of the chunk-level trims: fold keep-marked chunk
    spans per doc and rebuild the surviving text from the token
    arrays. ``base`` is (doc_id, toks); ``marked`` is the chunk table
    plus a boolean ``keep``. Every base doc stays visible (left
    join)."""
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_chunks_kept"),
        F.coalesce(
            F.sum(F.when(F.col("keep"), F.col("n_tokens_chunk"))), F.lit(0)
        ).cast("long").alias("n_tokens_kept"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("keep"),
                    F.struct("seg_id", "start_pos", "end_pos"),
                )
            )
        ).alias("kept_spans"),
    )
    joined = base.join(per_doc, "doc_id", "left")
    spans = F.coalesce(
        F.col("kept_spans"),
        F.array().cast(
            "array<struct<seg_id:bigint,start_pos:int,end_pos:int>>"
        ),
    )
    text_deduped = F.concat_ws(
        " ",
        F.flatten(
            F.transform(
                spans,
                lambda s: F.slice(
                    F.col("toks"),
                    (s.start_pos + 1).cast("int"),
                    (s.end_pos - s.start_pos + 1).cast("int"),
                ),
            )
        ),
    )
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
        F.coalesce(F.col("n_chunks_kept"), F.lit(0)).alias("n_chunks_kept"),
        F.coalesce(F.col("n_tokens_kept"), F.lit(0)).alias("n_tokens_kept"),
        text_deduped.alias("text_deduped"),
    )


CDC_INDEX_SCHEMA = (
    "chunk_hash BIGINT, keeper_doc_id BIGINT, keeper_seg_id BIGINT, "
    "n_occurrences BIGINT"
)


def cdc_chunk_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
) -> DataFrame:
    """The persisted state of incremental chunk-level dedup (VERDICT
    r10 #5): chunk_hash -> (keeper = min (doc_id, seg_id) occurrence,
    occurrence count). min/sum are associative + commutative, so
    per-batch indexes FOLD to the combined-corpus index — the same
    batching-invariance contract as ``exact_dedup_new_batch``. One
    (chunk_hash) groupBy over the chunk table; span hashes move,
    never text."""
    chunks = cdc_chunks(df, text_col, id_col, k, divisor)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.min(F.struct("doc_id", "seg_id")).alias("m"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "chunk_hash",
            F.col("m.doc_id").cast("long").alias("keeper_doc_id"),
            F.col("m.seg_id").cast("long").alias("keeper_seg_id"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
        )
    )


def cdc_trim_new_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental chunk-level trim: dedupe an arriving batch against
    the persisted chunk index WITHOUT recomputing the historical
    corpus (VERDICT r10 #5 — the production shape of ``cdc_trim``).

    Returns ``(trimmed, delta)``:

    * ``trimmed`` — ``cdc_trim``'s output schema for the BATCH docs.
      A batch chunk survives iff its (doc_id, seg_id) is the minimum
      over the COMBINED corpus's occurrences of that hash (= the least
      of the index keeper and the batch-local min), so the result
      equals the one-shot ``cdc_trim`` over history+batch restricted
      to the batch docs — the oracle-checkable batching-invariance.
      With time-ordered doc ids this is exactly first-seen-wins.
    * ``delta`` — the O(batch) index delta (batch-local keeper +
      batch occurrence counts, CDC_INDEX_SCHEMA). Folding it with the
      existing index (``read_cdc_index``) yields the combined index;
      bytes persisted per ingest track the BATCH, never the corpus.

    Plan: one chunk pass over the batch, one batch-hash groupBy, one
    equi-join of the (small) batch delta against the index — keyed on
    chunk_hash, so a bucketed index layout makes the join co-located
    at any scale (same posture as write_band_index_bucketed)."""
    # one tokenize (shared with cdc_chunks) and one chunking pass,
    # each materialized once; ``delta`` additionally feeds both the
    # returned index delta AND the combined-keeper join inside
    # ``trimmed``, so it is materialized here — a caller-side
    # checkpoint on the returned frame cannot cover that internal
    # second consumer (r15)
    base = batch.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    ).localCheckpoint(eager=False)
    chunks = cdc_chunks(
        batch, text_col, id_col, k, divisor, base=base
    ).localCheckpoint(eager=False)
    delta = (
        chunks.groupBy("chunk_hash")
        .agg(
            F.min(F.struct("doc_id", "seg_id")).alias("m"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "chunk_hash",
            F.col("m.doc_id").cast("long").alias("keeper_doc_id"),
            F.col("m.seg_id").cast("long").alias("keeper_seg_id"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
        )
    ).localCheckpoint(eager=False)
    # combined keeper per batch hash: least of the index keeper and
    # the batch-local min (F.least skips the null side of the left
    # join). Struct comparison is lexicographic — (doc_id, seg_id).
    combined = (
        delta.join(
            index.hint("shuffle_hash")
            .select(
                "chunk_hash",
                F.struct(
                    F.col("keeper_doc_id").alias("doc_id"),
                    F.col("keeper_seg_id").alias("seg_id"),
                ).alias("_im"),
            ),
            "chunk_hash",
            "left",
        )
        .select(
            "chunk_hash",
            F.least(
                F.struct(
                    F.col("keeper_doc_id").alias("doc_id"),
                    F.col("keeper_seg_id").alias("seg_id"),
                ),
                F.col("_im"),
            ).alias("m"),
        )
    )
    marked = chunks.join(combined, "chunk_hash").select(
        "doc_id",
        "seg_id",
        "start_pos",
        "end_pos",
        "n_tokens_chunk",
        (
            (F.col("doc_id") == F.col("m.doc_id"))
            & (F.col("seg_id") == F.col("m.seg_id"))
        ).alias("keep"),
    )
    return _cdc_reassemble(base, marked), delta


def append_cdc_index_delta(delta: DataFrame, path: str, version: int) -> None:
    """Persist one ingest's O(batch) chunk-index delta at
    ``<path>/chunks/v=<version>`` (versioned_store layout; per-version
    overwrite makes a redelivered ingest idempotent)."""
    delta.write.mode("overwrite").parquet(f"{path}/chunks/v={version}")


def read_cdc_index(spark, path: str, below: int | None = None) -> DataFrame:
    """Fold the versioned chunk index: newest committed base plus
    later deltas, merged by the associative (min keeper, sum count)
    fold — the combined-corpus index regardless of how ingests were
    batched."""
    from tweetaggregates_spark import versioned_store as vstore

    b, deltas = vstore.base_and_deltas(path, "base", "chunks", below)
    parts = vstore.read_family(
        spark, path, "base", "chunks", b, deltas, schema=CDC_INDEX_SCHEMA
    )
    u = vstore.union_all(parts)
    if u is None:
        return spark.createDataFrame([], CDC_INDEX_SCHEMA)
    return (
        u.groupBy("chunk_hash")
        .agg(
            F.min(
                F.struct(
                    F.col("keeper_doc_id").alias("doc_id"),
                    F.col("keeper_seg_id").alias("seg_id"),
                )
            ).alias("m"),
            F.sum("n_occurrences").alias("n_occurrences"),
        )
        .select(
            "chunk_hash",
            F.col("m.doc_id").alias("keeper_doc_id"),
            F.col("m.seg_id").alias("keeper_seg_id"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
        )
    )


def compact_cdc_index(spark, path: str, below: int | None = None) -> None:
    """Rebase the versioned chunk index: fold the newest base plus
    every delta with v < ``below`` (None = all) into a NEW base
    version (atomic rename commit via versioned_store.commit_bases)
    and sweep the folded pieces — bounds read-side fan-in on a
    long-running ingest. With ``below`` = the current batch id, only
    fully-committed triggers fold, so a replayed trigger still reads
    exactly its pre-batch index (the run_streaming_exact_dedup
    contract)."""
    from tweetaggregates_spark import versioned_store as vstore

    b, deltas = vstore.base_and_deltas(path, "base", "chunks", below)
    if not deltas or (len(deltas) < 2 and b is None):
        return
    newv = max(deltas)
    folded = read_cdc_index(spark, path, below=newv + 1)
    vstore.commit_bases(path, [("base", folded)], newv)
    vstore.cleanup_after_compact(path, ["chunks"], ["base"], newv)


def containment_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """The PRODUCTION containment path (VERDICT r13 #4):
    ``ngram_containment_pairs`` is the quadratic-truth baseline — its
    shingle self-join touches every co-occurring pair; at 100 TB the
    deployable form is banded LSH candidate discovery, then the exact
    containment verify ONLY on candidates (the ``lsh_verified_pairs``
    / ``winnow_dup_pairs_capped`` pattern). The verify is map-side
    per candidate: one array_intersect of the two docs' distinct
    shingle sets, both directions from the one unordered pair —
    |candidates| verifications instead of |docs|².

    Recall trade (measured in SCALE.md): MinHash banding targets
    JACCARD, and a short doc fully contained in a long one has low
    Jaccard — exactly the pairs containment exists to catch — so
    banding can miss extreme-ratio pairs a brute-force scan finds.
    At these parameters the testdata corpus loses none (recall row in
    SCALE.md); production tunes bands/rows to the containment floor
    it needs, or runs the ExactSubstr chunk index for the guaranteed
    span-level form. Output schema = ngram_containment_pairs."""
    docs = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    cand = minhash_lsh_pairs(
        docs, "text", "doc_id", k=k, n_hashes=n_hashes, n_bands=n_bands
    )
    sh = F.array_distinct(word_shingles(tokens(F.col("text")), k))
    a = docs.select(F.col("doc_id").alias("doc_a"), sh.alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), sh.alias("sh_b"))
    j = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b"))
            .cast("long")
            .alias("n_inter"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    directed = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_contained"),
                    F.col("doc_b").alias("doc_container"),
                    F.col("n_inter").alias("n_inter"),
                    F.round(F.col("n_inter") / F.col("na"), 6).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_contained"),
                    F.col("doc_a").alias("doc_container"),
                    F.col("n_inter").alias("n_inter"),
                    F.round(F.col("n_inter") / F.col("nb"), 6).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return directed.filter(F.col("containment") >= threshold)
