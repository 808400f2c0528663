"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Column expressions over the tokenization contract in
functions/textstats.py — whole-stage codegen end to end, no Python in
the row path, embarrassingly parallel (no shuffle except noted).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweetaggregates_spark.functions.hashing import hash64
from tweetaggregates_spark.functions.textstats import (
    LANG_PRED_THRESHOLD,
    LANG_STOPWORDS,
    tokens,
    word_shingles,
)

BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    emit_n_tokens: bool = True,
) -> DataFrame:
    """Heuristic multi-language ID: per-language function-word ratios
    (en/es/fr/de), prediction = argmax over rounded ratios with a fixed
    en>es>fr>de tie order, "unknown" below LANG_PRED_THRESHOLD.
    Map-only pure Column exprs — portable to the DuckDB oracle."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    ratios = {}
    for lang, words in LANG_STOPWORDS.items():
        stop_arr = F.array(*[F.lit(s) for s in words])
        n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        ratios[lang] = F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6)
    best = F.greatest(*ratios.values())
    pred = F.when(best < F.lit(LANG_PRED_THRESHOLD), F.lit("unknown"))
    for lang in LANG_STOPWORDS:  # insertion order = deterministic ties
        pred = pred.when(ratios[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        *([n_tok.alias("n_tokens")] if emit_n_tokens else []),
        *[ratios[lang].alias(f"{lang}_stop_ratio") for lang in LANG_STOPWORDS],
        pred.alias("lang_pred"),
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    tokens_col: str | None = None,
) -> DataFrame:
    """One-row corpus DATASHEET (round 12) — the summary a dataset
    release ships with (Gebru et al. "Datasheets for Datasets";
    every LLM data card carries these numbers): document/token/char
    totals, mean document length, source and language cardinalities,
    the exact-duplicate rate (1 - distinct content hashes / docs),
    and the mean heuristic quality score. ONE aggregate over one
    corpus scan — every input is a map-side expression (token count,
    content hash, the quality_score formula), the distinct counts are
    partial-aggregated, and the double mean routes through
    DECIMAL(28,12) (order-free, twin-exact).

    Output columns: n_docs, n_tokens, n_chars, mean_doc_tokens,
    n_sources, n_langs, dup_rate, mean_quality. ``tokens_col``: an
    optional pre-tokenized array column (exactly ``tokens(text)``) so
    a composed pipeline can share one tokenize pass; value-identical
    either way."""
    return _dataset_card_agg(
        dataset_card_row_stats(
            df, text_col, id_col, source_col, lang_col, tokens_col
        )
    )


def dataset_card_row_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    tokens_col: str | None = None,
    keep_cols: tuple = (),
) -> DataFrame:
    """The per-doc map-side projection feeding ``dataset_card``'s
    one-row aggregate — factored out (r16) so a composed pipeline
    (dataset_card_v2_docs) can fold these scalar stats into its
    shared materialized layer and keep the text payload OUT of the
    checkpoint (guide §5: store keys and metadata, not payloads).
    Columns: doc_id, _src, _lang, _nt, _nc, _h, _q (+ ``keep_cols``
    passed through)."""
    t = F.col(text_col)
    toks = F.col(tokens_col) if tokens_col else tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    score = F.round(
        (
            F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
            / F.greatest(n_chars, F.lit(1))
        )
        * 0.5
        + F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5,
        6,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("_src"),
        F.col(lang_col).alias("_lang"),
        n_tok.alias("_nt"),
        n_chars.alias("_nc"),
        hash64(t).alias("_h"),
        score.alias("_q"),
        *[F.col(c) for c in keep_cols],
    )


def _dataset_card_agg(row: DataFrame) -> DataFrame:
    """The one-row datasheet aggregate over ``dataset_card_row_stats``
    columns (see ``dataset_card`` for the output contract)."""
    return row.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum("_nc").cast("long").alias("n_chars"),
        F.round(F.sum("_nt") / F.count(F.lit(1)), 6).alias(
            "mean_doc_tokens"
        ),
        F.countDistinct("_src").alias("n_sources"),
        F.countDistinct("_lang").alias("n_langs"),
        F.round(
            F.lit(1.0) - F.countDistinct("_h") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(
            F.sum(F.col("_q").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )


def quality_calibrated_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    keep_num: int = 4,
    keep_den: int = 5,
) -> DataFrame:
    """Per-source quality CALIBRATION (round 12): a single global
    quality threshold biases curation toward whichever source's
    scores run hot — boilerplate-light sources dominate, noisy ones
    vanish (why RefinedWeb/CCNet set thresholds per source/language
    bucket, not globally). Rank docs by ``quality_score`` WITHIN each
    source and keep the top ``keep_num/keep_den`` fraction; the cut
    is the INTEGER predicate ``den * rank <= num * n_source``, so it
    is exact in both engines (no float threshold to disagree on) and
    engine ULP noise in the score can only reorder ties, which break
    on doc_id.

    Scale shape: the per-source rank uses
    ``grouped_partitioned_rank`` — the two-pass range-bucketed rank —
    because web sources are zipf-skewed and a plain
    ``Window.partitionBy(source)`` funnels the dominant source
    through one task (the r7 scale lesson).

    Output: (doc_id, source, quality_score, q_rank, n_source, keep)."""
    from tweetaggregates_spark.operators.prefix import (
        grouped_partitioned_rank,
    )

    scored = quality_score(df, text_col, id_col, keep_cols=(source_col,))
    ranked = grouped_partitioned_rank(
        scored.select(
            "doc_id", source_col, "quality_score"
        ),
        [source_col],
        "quality_score",
        ["doc_id"],
        ascending=False,
        rank_name="q_rank",
        count_name="n_source",
    )
    return ranked.select(
        "doc_id",
        source_col,
        "quality_score",
        "q_rank",
        "n_source",
        (
            F.lit(keep_den) * F.col("q_rank")
            <= F.lit(keep_num) * F.col("n_source")
        ).alias("keep"),
    )


# sentence-ish segment boundary: terminal punctuation + whitespace
# (shared verbatim with the DuckDB twin)
SEG_SPLIT_RE = "[.!?]+[ \\t\\n]+"


def lang_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
) -> DataFrame:
    """Per-SEGMENT language ID rolled into a per-document language
    mixture profile — the CCNet per-paragraph pass (Wenzek et al.
    2020 §4.2: language is decided below document granularity because
    crawled pages routinely embed a second language, and a document-
    level vote silently mislabels them). Segments are sentence-ish
    splits on SEG_SPLIT_RE; segments with fewer than ``min_tokens``
    tokens are too short to classify and are skipped.

    Output (one row per input doc — docs with no classifiable segment
    stay visible with n_segments = 0 and majority 'unknown'):
    n_segments, per-language segment counts (n_en..n_unknown),
    majority_lang (argmax with the lang_id tie order, en > es > fr >
    de > unknown), and is_mixed (any classified segment disagreeing
    with the majority).

    Scale shape: one posexplode + the map-only lang_id expressions on
    segment rows, then ONE doc_id groupBy (partial-aggregated counts)
    and a left join back to the doc ids — everything shuffled is a
    count row."""
    langs = list(LANG_STOPWORDS) + ["unknown"]
    segs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), SEG_SPLIT_RE)).alias(
            "seg_id", "seg_text"
        ),
    ).filter(F.size(tokens(F.col("seg_text"))) >= min_tokens)
    pred = lang_id(
        segs, text_col="seg_text", id_col="doc_id",
        keep_cols=("seg_id",), emit_n_tokens=False,
    )
    per = pred.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        *[
            F.sum((F.col("lang_pred") == L).cast("int"))
            .cast("long")
            .alias(f"n_{L}")
            for L in langs
        ],
    )
    best = F.greatest(*[F.col(f"n_{L}") for L in langs])
    maj = F.lit(None).cast("string")
    whens = None
    for L in langs:  # fixed tie order, matching lang_id
        cond = F.col(f"n_{L}") == best
        whens = F.when(cond, F.lit(L)) if whens is None else whens.when(
            cond, F.lit(L)
        )
    base = df.select(F.col(id_col).alias("doc_id"))
    joined = base.join(per, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_segments"), F.lit(0)).alias("n_segments"),
        *[
            F.coalesce(F.col(f"n_{L}"), F.lit(0)).alias(f"n_{L}")
            for L in langs
        ],
        F.coalesce(whens, F.lit("unknown")).alias("majority_lang"),
        F.coalesce(
            (F.col("n_segments") - best) > 0, F.lit(False)
        ).alias("is_mixed"),
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quality heuristics: length, token stats, punctuation/alpha ratios,
    and a fixed-formula score. Map-only, deterministic. ``keep_cols``
    pass through untouched (lets a downstream funnel stay single-scan
    instead of joining the scores back)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", ""))
    mean_tok_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        / F.greatest(n_tokens, F.lit(1)),
        6,
    )
    alpha_ratio = F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    score = F.round(
        (n_alpha / F.greatest(n_chars, F.lit(1))) * 0.5
        + F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5,
        6,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        alpha_ratio.alias("alpha_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count + BPE-ish regex piece count (letters runs,
    digit runs, single punctuation)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(F.split(t, r"\s+"), lambda x: x != "")).alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(BPE_ISH_RE)).alias("n_bpe_pieces"),
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 4
) -> DataFrame:
    """Rolling-window document fingerprint: hash every k-word window,
    keep min/max hash + distinct window count (a 2-value winnowing
    sketch; equal fingerprints => near-certain duplicates). One explode
    + groupBy — same shuffle shape as minhash."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(tokens(F.col(text_col)), k)).alias("w"),
    ).withColumn("h", hash64(F.col("w")))
    return sh.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        F.countDistinct("h").alias("n_windows"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Repetition-based quality signal (the Gopher/C4 duplicate-n-gram
    filters, Rae et al. 2021 §A1.1): fraction of k-word shingles that
    are repeats of an earlier shingle in the same doc. Boilerplate /
    spam / degenerate generations score high; clean prose ~0. Map-only
    pure Column exprs (array ops per row, no explode, no shuffle)."""
    sh = word_shingles(tokens(F.col(text_col)), k)
    n_total = F.size(sh)
    n_distinct = F.size(F.array_distinct(sh))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_total.alias("n_shingles"),
        n_distinct.alias("n_distinct_shingles"),
        F.round(
            (n_total - n_distinct) / F.greatest(n_total, F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


def contamination_pairs(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_overlap: int = 1,
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= min_overlap
    distinct k-word shingles with any eval doc (the n-gram overlap
    check run before training on any corpus that might contain the
    benchmark). Output: (train_doc_id, eval_doc_id, n_shared).

    Scale shape: both sides explode to (shingle-hash, id) and meet in a
    shuffle equi-join on the hash — the eval side is tiny (benchmarks
    are thousands of docs), so Catalyst broadcasts it and the train
    side NEVER shuffles: a map-side join per partition, cost linear in
    train shingle count. Same pigeonhole economics as LSH: a long
    shared passage shares many shingles, so min_overlap tolerates hash
    noise without losing true contamination. ``tokens_col``: an
    optional pre-tokenized array column present on BOTH inputs
    (exactly ``tokens(text)``) so a composed pipeline shares one
    tokenize pass; value-identical either way."""

    def _toks():
        return (
            F.col(tokens_col)
            if tokens_col
            else tokens(F.col(text_col))
        )

    t_sh = train.select(
        F.col(id_col).alias("train_doc_id"),
        F.explode(
            F.array_distinct(word_shingles(_toks(), k))
        ).alias("shingle"),
    ).withColumn("h", hash64(F.col("shingle"))).drop("shingle")
    e_sh = evalset.select(
        F.col(id_col).alias("eval_doc_id"),
        F.explode(
            F.array_distinct(word_shingles(_toks(), k))
        ).alias("shingle"),
    ).withColumn("h", hash64(F.col("shingle"))).drop("shingle")
    return (
        t_sh.join(F.broadcast(e_sh), "h")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def domain_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-domain aggregation of URLs mentioned in documents — the
    domain-blocklist / domain-mix accounting pass of a crawl pipeline.
    Extract every URL, reduce to its host, aggregate: (domain, n_urls,
    n_docs). One explode + one groupBy on domain."""
    urls = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    domain = F.lower(
        F.regexp_extract(F.col("url"), "https?://([^/ ]+)", 1)
    )
    return (
        urls.withColumn("domain", domain)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# regexes shared with the DuckDB oracle — keep to the Java/RE2 common
# subset (character classes, +, {m,n}; no lookarounds/backrefs)
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
URL_RE = "https?://[^ \\t\\n]+"
# query parameters a crawl canonicalizer strips (session/campaign
# tracking — they vary per click, never per page)
TRACKING_PARAM_RE = "^(utm_[a-z0-9]+|fbclid|gclid|ref)="


def canonical_urls(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """URL canonicalization + per-canonical-URL keeper — the stage a
    crawl pipeline runs BEFORE content dedup (VERDICT r11 #6): the
    same page arrives under scheme/host case variants, default ports,
    tracking parameters, shuffled query order, fragments, and trailing
    slashes; canonicalizing first makes URL-level dedup catch them
    without touching the page text.

    Canonical form (each step a shared-regex Column expr):
      * fragment (``#...``) stripped;
      * scheme and host lowercased; leading ``www.`` dropped;
      * default port stripped (``:80`` for http, ``:443`` for https);
      * query params split on ``&``, tracking params
        (TRACKING_PARAM_RE) and empties dropped, survivors SORTED and
        rejoined — param order never distinguishes pages;
      * trailing ``/`` on the path stripped.

    Scale shape: extraction + canonicalization are map-only (regex +
    array higher-order fns, whole-stage codegen); the keeper is one
    groupBy(canonical_url) min + an equi-join on the same key —
    everything shuffled is a URL-sized row (the document text never
    moves), and the join key matches the aggregate key so the
    partial-aggregated keeper side arrives co-partitioned
    (shuffle_hash keeps the small side from triggering a sort).

    Output: (doc_id, url, canonical_url, keeper_doc_id, is_keeper),
    one row per extracted URL occurrence."""
    raw = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    u = F.regexp_replace(F.col("url"), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^(https?)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^https?://([^/?#]+)", 1))
    host = F.regexp_replace(hostport, "^www\\.", "")
    host = F.when(
        scheme == "http", F.regexp_replace(host, ":80$", "")
    ).otherwise(F.regexp_replace(host, ":443$", ""))
    rest = F.regexp_extract(u, "^https?://[^/?#]+(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    query = F.regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qkept = F.array_join(params, "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qkept != "", F.concat(F.lit("?"), qkept)).otherwise(F.lit("")),
    )
    canon = raw.select(
        "doc_id", "url", canonical.alias("canonical_url")
    )
    keeper = (
        canon.groupBy("canonical_url")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
        .hint("shuffle_hash")
    )
    return canon.join(keeper, "canonical_url").select(
        "doc_id",
        "url",
        "canonical_url",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 200,
) -> DataFrame:
    """Corpus vocabulary build: top-N tokens by total occurrences with
    term and document frequencies — the vocab/stopword-discovery pass
    that precedes tokenizer training.

    Scale shape: explode -> one groupBy(token) with both counts
    (countDistinct is one expand, partial-aggregated map-side), then
    TakeOrderedAndProject for the top-N — no global window over the
    full vocabulary; the rank is applied to the already-truncated
    top-N rows only."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.countDistinct("doc_id").alias("doc_count"),
    )
    top = agg.orderBy(F.desc("term_count"), F.asc("token")).limit(top_n)
    from pyspark.sql import Window

    # constant-but-unfoldable partition key (pmod(x,1) == 0): input is
    # post-limit (<= top_n rows), the single-partition sort is
    # intentional — and the plan says so instead of warning
    w = Window.partitionBy(F.pmod(F.col("term_count"), F.lit(1))).orderBy(
        F.desc("term_count"), F.asc("token")
    )
    return top.withColumn("rank", F.row_number().over(w))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_tf: int = 2,
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF.

    tf = in-doc occurrences (>= min_tf to skip noise), df_t = number of
    docs containing the term, idf = ln((N+1)/(df_t+1)) (smoothed),
    reported tfidf = round(tf*idf, 6). The top-k ORDER is decided by
    the integer key (tf DESC, df_t ASC, token ASC) — never by the
    float — so ranking is bit-identical across engines even if ln()
    differs in the last ulp.

    Scale shape: tf groupBy shuffles on (doc, token); df_t groupBy on
    token reuses the token-hashed exchange; the doc-count scalar joins
    as a broadcast literal; final top-k is a per-doc window (partition
    by doc — embarrassingly parallel)."""
    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= min_tf)
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("doc_freq") + 1)),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("token")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "token", "tf", "doc_freq", "tfidf", "term_rank")
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 10,
    min_doc_freq: int = 5,
) -> DataFrame:
    """Inverted index over the corpus: token -> (doc_freq, first
    max_postings doc ids ascending, serialized as a CSV string so the
    result is hash-portable across engines).

    Scale shape: postings are rank-FILTERED (row_number per token <=
    max_postings) BEFORE collect_list, so per-token aggregation state
    is O(max_postings) even for stopword-grade tokens — the unbounded
    collect-then-slice formulation would hold every posting of a hot
    token in memory. doc_freq comes from a count aggregate on the same
    token-hashed exchange; one equi-join reunites them."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    from pyspark.sql import Window

    w = Window.partitionBy("token").orderBy(F.asc("doc_id"))
    postings = (
        tok.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= max_postings)
        .groupBy("token")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id")))
            ).alias("postings")
        )
    )
    return (
        counts.filter(F.col("doc_freq") >= min_doc_freq)
        .join(postings, "token")
        .select("token", "doc_freq", "postings")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_query_terms: int = 8,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tokens_col: str | None = None,
    query_tokens_col: str | None = None,
) -> DataFrame:
    """BM25 ranked retrieval (VERDICT r12 #5): top-k documents per
    query by Okapi BM25 — the retrieval shape contamination checks and
    RAG-eval pipelines run over a training corpus (Robertson & Walker
    SIGIR'94; the Lucene/Elasticsearch default scorer). For each query
    term t and doc d:

        idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        w(t,d) = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Query terms are the first ``n_query_terms`` DISTINCT tokens of the
    query text in first-occurrence order — a deterministic,
    engine-portable cut; query ids must be keys. Determinism: per-term
    scores round to 9 dp (absorbs ln() ulp noise), i.e. whole
    nano-units, and sum as LONG nano-units — exact and
    order-independent — so ranking compares exact sums and sum / 1e9
    is the correctly rounded double; ties break by doc_id. Output:
    (query_id, doc_id, bm25 rounded 6, rank).

    Scale shape: ONE token scan of the corpus feeds tf (doc,token
    groupBy), dl (doc groupBy) and df (token groupBy on tf's
    exchange); N and total-token count are a 1-row aggregate of the
    same (doc,token) groups, crossed in as a literal; the query-term
    table (|Q| x n_query_terms rows) is cut per query row with no
    shuffle and BROADCASTS onto tf, so the corpus never shuffles for
    the join — the only corpus-sized exchanges are the two index-build groupBys a real system would
    persist (see inverted_index / build_token_index). Final top-k is
    a per-query window over |Q| x matched-docs rows."""
    # tokens_col / query_tokens_col: optional pre-tokenized array
    # columns (exactly tokens(text)) so a composed pipeline shares
    # one tokenize pass (dataset_card_v2_docs); value-identical.
    return _bm25_score(
        _token_index(df, text_col, id_col, tokens_col), queries,
        query_id_col=query_id_col, query_text_col=query_text_col,
        n_query_terms=n_query_terms, k=k, k1=k1, b=b,
        query_tokens_col=query_tokens_col,
    )


def _bm25_score(
    index: TokenIndex,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_query_terms: int = 8,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_tokens_col: str | None = None,
) -> DataFrame:
    """The BM25 scoring plan over MATERIALIZED index stats — shared by
    the scan-per-call ``bm25_topk`` and the persisted-index
    ``bm25_topk_indexed``. ``query_tokens_col``: optional
    pre-tokenized query array column (see ``bm25_topk``). Query ids
    must be keys: each query row's terms are cut on that row alone."""
    from pyspark.sql import Window

    q_toks = (
        F.col(query_tokens_col)
        if query_tokens_col
        else tokens(F.col(query_text_col))
    )
    # array_distinct keeps first occurrences, in order
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.slice(F.array_distinct(q_toks), 1, n_query_terms)).alias("token"),
    )
    # identical association to the DuckDB twin: IEEE mul/div are
    # deterministic given identical inputs, ln() is the only libm
    # call and the 9 dp round absorbs its last-ulp noise
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    avgdl = F.col("total_tokens") / F.col("n_docs")
    w_term = F.round(
        idf
        * (F.col("tf") * F.lit(k1 + 1))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * (F.col("dl") / avgdl))
        ),
        9,
    )
    scored = (
        F.broadcast(qterms)
        .join(index.tf, "token")
        .join(index.dl, "doc_id")
        .join(index.dft, "token")
        .crossJoin(F.broadcast(index.stats))
        .select("query_id", "doc_id", w_term.alias("w"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum(F.round(F.col("w") * F.lit(1e9)).cast("long")).alias("sd")
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("sd"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("sd") / F.lit(1e9), 6).alias("bm25"),
            "rank",
        )
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical text normalization for dedup/training prep: lowercase,
    collapse whitespace runs, trim. Map-only codegen; at 100 TB this is
    the zero-shuffle pass that runs before any hashing so near-dup
    detection is insensitive to formatting noise."""
    t = F.col(text_col)
    norm = F.trim(F.regexp_replace(F.lower(t), "\\s+", " "))
    return df.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
    )


def pii_mask(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing: mask emails, URLs and phone-number-shaped spans
    with typed placeholders and count what was masked — the standard
    pre-training hygiene pass. Pure regexp codegen, map-only; the
    counts make the pass auditable (what fraction of the corpus carried
    PII) without retaining the PII itself."""
    t = F.col(text_col)
    masked = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    masked = F.regexp_replace(masked, URL_RE, "<URL>")
    masked = F.regexp_replace(masked, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        masked.alias("masked_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(URL_RE)).alias("n_urls"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
    )


def repeated_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    top_n: int = 20,
) -> DataFrame:
    """Memorization-risk scan: the n-grams repeated across the most
    documents, with total occurrence counts — the phrase-level
    counterpart of ``vocab_stats`` (token-level) used to find
    boilerplate and verbatim-duplication hot spots before training.

    Scale shape: explode all (non-distinct) n-gram occurrences, ONE
    groupBy(ngram) computing both total and distinct-doc counts
    (countDistinct = one expand, partial-aggregated map-side), then
    TakeOrderedAndProject truncates to top_n before the rank window
    touches anything."""
    from pyspark.sql import Window

    from tweetaggregates_spark.functions.textstats import (
        tokens,
        word_shingles,
    )

    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("ngram"),
    )
    agg = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("total_count"),
        F.countDistinct("doc_id").alias("doc_count"),
    )
    top = (
        agg.filter(F.col("doc_count") >= 2)
        .orderBy(F.desc("doc_count"), F.desc("total_count"), F.asc("ngram"))
        .limit(top_n)
    )
    w = Window.partitionBy(F.pmod(F.col("doc_count"), F.lit(1))).orderBy(
        F.desc("doc_count"), F.desc("total_count"), F.asc("ngram")
    )
    return top.withColumn("rank", F.row_number().over(w))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks (size
    ``chunk_tokens``, step ``stride``) — the sharding pass that turns a
    cleaned corpus into training-window rows. Emits (doc_id, chunk_id,
    first token index, token count, chunk text); the final partial
    window is kept iff it adds tokens beyond the previous chunk.

    Map-only: tokenize + one ``transform(sequence(...))`` + explode per
    document — no shuffle at any scale; chunk_id is deterministic so
    downstream splits/packing stay leak-proof under re-runs."""
    from tweetaggregates_spark.functions.textstats import tokens

    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(n - chunk_tokens, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            (i * stride).alias("tok_start"),
            F.slice(toks, i * stride + 1, chunk_tokens).alias("toks"),
        ),
    )
    out = df.select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.tok_start").alias("tok_start"),
        F.size("c.toks").alias("n_tokens"),
        F.concat_ws(" ", "c.toks").alias("chunk_text"),
    )
    # drop a trailing empty/duplicate window (when n <= tok_start)
    return out.filter(F.col("n_tokens") > 0)


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Model-based quality scoring (round 4): per-document mean token
    log-probability / perplexity under an add-alpha-smoothed UNIGRAM
    language model fit on the corpus itself — the CCNet/Gopher-style
    "LM quality filter" reduced to its distributed essentials (real
    deployments swap in a pretrained KenLM; the dataflow is identical:
    broadcast-or-join a token->logprob table onto exploded tokens).

    Determinism across engines: log p values round to 9 dp, per-doc
    sums run through DECIMAL(28,12) (order-free, exact), one final
    divide + round(6); perplexity = round(exp(avg), 6) of the already-
    rounded average. ln/exp agree to well under 1e-9 between JVM and
    DuckDB libm, so the rounding absorbs any last-ulp differences.

    Scale shape: token explode -> ONE groupBy(token) for the model
    (vocab-sized state, partial-aggregated map-side) -> a token
    equi-join to score (shuffle on token; broadcast it instead when
    the vocab fits) -> one groupBy(doc). No driver-side model object.

    Output: doc_id, n_tokens, avg_logprob (round 6, <= 0), ppl
    (round 6, >= 1); lower ppl = more typical of the corpus."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    model = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = model.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    logp = model.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log(
                (F.col("c") + F.lit(float(alpha)))
                / (F.col("n_total") + F.lit(float(alpha)) * F.col("vocab"))
            ),
            9,
        ).alias("lp"),
    )
    scored = tok.join(logp.hint("shuffle_hash"), "token")
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("lp").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logprob"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 20,
) -> DataFrame:
    """One BPE training iteration (Sennrich et al. 2016): the frequency
    of every ADJACENT SYMBOL PAIR across the corpus, weighted by word
    frequency — the statistic whose argmax becomes the next merge rule.
    Iterating this (apply top merge, recount) trains the tokenizer; one
    distributed iteration is the shape that matters, and it is the same
    plan every round: word-frequency table (one groupBy, vocab-sized),
    char-pair explode per DISTINCT word (work scales with |vocab|, not
    corpus tokens — the key trick), weighted pair aggregation, top-N
    rank with deterministic (count desc, pair asc) ties.

    Output: pair ("x y"), pair_count, rank (1 = the merge BPE would
    pick)."""
    from pyspark.sql import Window as W

    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.concat(
                    F.col("word").substr(i, F.lit(1)),
                    F.lit(" "),
                    F.col("word").substr(i + 1, F.lit(1)),
                ),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("wc").cast("long").alias("pair_count")
    )
    # rank the top-N survivors only (TakeOrderedAndProject); the
    # non-foldable always-0 partition key avoids the single-partition
    # window warning on what is a <= top_n-row input
    w = W.partitionBy(F.pmod(F.length("pair"), F.lit(1))).orderBy(
        F.desc("pair_count"), F.asc("pair")
    )
    return (
        counts.orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w))
        .select("pair", "pair_count", "rank")
    )


def _apply_merge(syms, a: str, b: str):
    """Greedy left-to-right non-overlapping BPE merge of adjacent
    symbols (a, b) -> a||b inside one array column — a single
    F.aggregate fold, no UDF: append each symbol unless it extends the
    pair, in which case the accumulator's tail is replaced by the
    merged symbol. (Composed symbols compare as full strings, so the
    "aaa" + (a,a) case correctly yields ["aa", "a"].)"""
    empty = F.array().cast("array<string>")
    return F.aggregate(
        syms,
        empty,
        lambda out, s: F.when(
            (F.size(out) > 0)
            & (F.element_at(out, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(out, 1, F.size(out) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(out, F.array(s))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 8,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Full (small-vocabulary) BPE training loop (Sennrich et al.
    2016): iterate `bpe_merge_candidates`' statistic, each round
    committing the argmax pair as a merge rule and rewriting the
    symbolized word table with `_apply_merge`. Returns (merge rules in
    order, final symbolized word-frequency table).

    Distributed shape per round: ONE pair-count aggregation over the
    |vocab|-row symbol table (never the corpus), a 1-row collect for
    the argmax (the merge RULE is driver-state by definition — it IS
    the model), one map-side fold to apply it, and a lineage
    checkpoint. Ties break (count desc, pair asc) so training is
    deterministic; pinned against a pure-Python reference BPE in
    tests/test_text_index.py."""
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    table = words.select(
        "word",
        "wc",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("syms"),
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts = (
            table.filter(F.size("syms") >= 2)
            .select(
                "wc",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("a"),
                            F.element_at("syms", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("wc").alias("pc"))
        )
        top = pair_counts.orderBy(
            F.desc("pc"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        table = table.select(
            "word", "wc", _apply_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint()
    return merges, table


def bpe_token_counts(
    df: DataFrame,
    segmented_vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE tokenizer: per-document token counts under
    the segmentation `bpe_train` produced. Production shape — the
    segmenter is a VOCAB LOOKUP (broadcast join of the |vocab|-row
    (word -> symbols) table onto exploded words), never a re-derivation
    per occurrence; out-of-vocabulary words fall back to character
    count (the fully-unmerged segmentation — what an untrained word
    degrades to).

    Output: doc_id, n_words, n_bpe_tokens."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    )
    seg = segmented_vocab.select("word", F.size("syms").alias("n_sym"))
    return (
        words.join(F.broadcast(seg), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.coalesce(F.col("n_sym"), F.length("word"))
            ).cast("long").alias("n_bpe_tokens"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Zipf power-law fit over the corpus token-frequency distribution:
    OLS slope/intercept of ln(freq) vs ln(rank) for the top_n terms —
    the classic corpus-health statistic (natural text fits slope ~ -1;
    boilerplate-heavy or template-generated corpora flatten or steepen
    it). One tokenize+groupBy for counts, one top_n rank, then a 1-row
    closed-form OLS whose sums route through DECIMAL(38,18) over
    ln-values rounded to 9 (order-free and identical in both engines;
    ln ulp noise is absorbed by the rounding, same convention as the
    tf-idf twin). Output: (n_terms, zipf_slope, zipf_intercept)."""
    from tweetaggregates_spark.functions.textstats import tokens

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top_n rank via local-then-global pruning (rank_topk_local_global):
    # each partition keeps its own top_n first, so the final global
    # window ranks ~top_n x n_partitions survivors instead of pulling
    # the full distinct-vocab table into one task — result-identical
    # (any global top-n row is in its partition's local top-n)
    from tweetaggregates_spark.operators.topk import rank_topk_local_global

    ranked = (
        rank_topk_local_global(
            counts,
            partition_cols=[],
            order_col="cnt",
            tiebreak_cols=["tok"],
            k=top_n,
            rank_name="rnk",
            keep_rank=True,
        )
        .select(
            F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
            F.round(F.log(F.col("cnt").cast("double")), 9).alias("y"),
        )
    )
    d = lambda c: c.cast("decimal(38,18)")  # noqa: E731
    # the SUMS are exact decimals (order-free); the OLS arithmetic then
    # runs in DOUBLE with a fixed expression order, so both engines
    # compute identical results (decimal DIVISION scale rules differ
    # between engines — never divide decimals cross-engine)
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d(F.col("x"))).cast("double").alias("sx"),
        F.sum(d(F.col("y"))).cast("double").alias("sy"),
        F.sum(d(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(d(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
    )
    slope = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        slope.alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("zipf_intercept"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher quality rule set (Rae et al. 2021, Appendix A1.1) as
    a per-doc flag table: word-count bounds, mean word length bounds,
    symbol-to-word ratio, bullet/ellipsis line fractions, fraction of
    words containing an alphabetic character, and stop-word
    containment — plus the combined ``gopher_keep`` verdict. Pure
    column expressions over ONE scan (no explode, no shuffle); emit
    the flags rather than the filtered rows so downstream curation can
    weigh rules individually (and the oracle checks every column, not
    just the survivor set)."""
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_words = F.size(words)
    mean_wl = F.round(
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    symbol_ratio = F.round(
        F.regexp_count(t, F.lit(r"#|\.\.\.")) / F.greatest(n_words, F.lit(1)),
        6,
    )
    lines = F.filter(F.split(t, "\n"), lambda x: x != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"^[-*•]")))
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.$"))) / n_lines, 6
    )
    alpha_word_ratio = F.round(
        F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens(t)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    keep = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_wl >= 3)
        & (mean_wl <= 10)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_word_ratio >= 0.8)
        & (stop_hits >= 2)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
        keep.alias("gopher_keep"),
    )


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2) as a per-doc
    flag table: terminal-punctuation line fraction, >=3-word line
    fraction, sentence count, and the lorem-ipsum / curly-brace
    page-drop markers — plus the combined ``c4_keep`` page verdict
    (>=3 sentences, no lorem ipsum, no '{'). One scan, pure column
    expressions."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: x != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    term_frac = F.round(
        F.size(F.filter(lines, lambda x: x.rlike("[.!?\"']$"))) / n_lines, 6
    )
    min_words_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda x: F.size(
                    F.filter(F.split(x, r"\s+"), lambda w: w != "")
                )
                >= 3,
            )
        )
        / n_lines,
        6,
    )
    n_sentences = F.regexp_count(t, F.lit(r"[.!?]"))
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    keep = (n_sentences >= 3) & ~has_lorem & ~has_brace
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.size(lines).alias("n_lines"),
        term_frac.alias("terminal_punct_line_frac"),
        min_words_frac.alias("min_words_line_frac"),
        n_sentences.cast("int").alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        keep.alias("c4_keep"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level LINE deduplication (RefinedWeb, Penedo et al. 2023
    §"line-wise corrections"; also the C4 line filter family): a line
    occurring more than ``max_occurrences`` times ACROSS THE CORPUS is
    boilerplate (headers, nav bars, cookie banners) and is dropped from
    every document; documents are reassembled from their surviving
    lines in original order.

    Output: (id_col, n_lines, n_lines_kept, text) — text '' when every
    line was boilerplate (the doc stays visible for the curation
    funnel; dropping it is the caller's policy decision).

    Plan shape at 100 TB: explode to lines (map), count by 60-bit line
    hash (one shuffle, map-side combined — the md5-based ``hash64``
    keeps the shuffle key 8 bytes instead of the line string), join
    lines<->counts on the hash (second shuffle; the hot boilerplate
    keys are exactly the skewed ones, which is AQE skew-join territory
    — a Window count-over-hash would funnel each hot line through ONE
    task with no mitigation), and one groupBy(doc) to reassemble
    (third shuffle, proportional to surviving lines). Hash collisions:
    2^-60 per pair — the same accepted risk as the minhash band keys;
    an exact-paranoid variant joins on (hash, line).

    NULL text behaves like an empty doc (one empty line) so the doc
    stays visible, per the output contract; ``sep`` is regex-escaped
    before F.split so callers may pass literal separators like '.'
    or '|' (ADVICE r9).
    """
    import re as _re

    lines = df.select(
        id_col,
        F.posexplode(
            F.split(
                F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep)
            )
        ).alias("_pos", "_line"),
    ).withColumn("_lh", hash64(F.col("_line")))
    counts = lines.groupBy("_lh").agg(
        F.count(F.lit(1)).alias("_line_count")
    )
    joined = lines.join(counts, "_lh")
    keep = F.col("_line_count") <= F.lit(max_occurrences)
    rows = joined.select(
        id_col,
        "_pos",
        "_line",
        keep.cast("int").alias("_keep"),
    )
    kept_lines = F.filter(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("_pos"),
                    F.col("_keep"),
                    F.col("_line"),
                )
            )
        ),
        lambda s: s["_keep"] == 1,
    )
    return rows.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("_keep").cast("bigint").alias("n_lines_kept"),
        F.array_join(
            F.transform(kept_lines, lambda s: s["_line"]), sep
        ).alias("text"),
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """The EXECUTED decontamination keep (the repo convention: every
    detector ships its executed filter — dedup -> canonical_docs,
    DSIR -> dsir_select, UniMax -> unimax_sample): drop every training
    doc ``contamination_pairs`` flags and return the clean corpus —
    schema-preserving, the surviving train rows as-is.

    Scale shape: the flagged set is distilled to DISTINCT train ids
    (tiny relative to the corpus — contamination is rare) and removed
    with a LEFT ANTI join; the eval side of the detector broadcasts,
    so the train corpus is scanned once for shingles and once for the
    anti-join probe."""
    flagged = (
        contamination_pairs(
            train, evalset, text_col=text_col, id_col=id_col,
            k=k, min_overlap=min_overlap,
        )
        .select(F.col("train_doc_id").alias(id_col))
        .distinct()
    )
    # broadcast the flagged ids: contamination is bounded by the eval
    # set's shingle reach (benchmarks are thousands of docs), so the
    # distilled id set is always dim-table-sized — without the hint the
    # derived aggregate has no stats and the anti-join plans sort-merge,
    # shuffling the WHOLE train corpus
    return train.join(F.broadcast(flagged), id_col, "left_anti")


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    train_pct: int = 20,
    salt: str = "bigram-ref",
    model_join: str = "shuffle_hash",
) -> DataFrame:
    """CCNet-shape LM quality filter (Wenzek et al. 2020): fit the
    language model on a REFERENCE slice, score the whole corpus. CCNet
    trains KenLM on Wikipedia and buckets Common Crawl by perplexity;
    here the reference slice is a deterministic ``train_pct``% hash
    sample of the corpus (hash64(salt:doc_id) % 100 < train_pct) and
    the model is an add-alpha-smoothed BIGRAM — unlike
    ``unigram_logprob_scores`` (self-trained, context-free) this is a
    conditional model with a real train/score split, so memorized /
    atypical documents separate from reference-like prose.

    Model: lp(w2 | w1) = ln((c(w1 w2) + a) / (c(w1·) + a*V)), with
    c(w1 w2) = reference count of the bigram, c(w1·) = reference count
    of w1 as a non-final token, V = reference vocabulary size (distinct
    tokens). Unseen bigram/context degrade gracefully through the same
    formula (context never seen => ln(1/V)) — no <unk> remapping pass.

    Determinism contract (shared with the unigram twin): lp rounds to
    9 dp; per-doc sums run through DECIMAL(28,12) (exact, order-free);
    avg rounds to 6; ppl = round(exp(-avg), 6) of the already-rounded
    avg. Docs with < 2 tokens stay visible with n_bigrams = 0 and NULL
    avg/ppl.

    Scale shape: the model is two aggregates over the REFERENCE slice
    only (train_pct% of the corpus — at 100 TB the slice is the curated
    reference set, not a sample); scoring is one bigram explode + two
    equi-joins on the bigram/context keys + one per-doc aggregate. No
    driver-side model object.

    ``model_join`` (VERDICT r10 #6): 'shuffle_hash' exchanges the
    EXPLODED bigram rows (corpus x tokens) on the model keys — correct
    at any model size; 'broadcast' ships the two model tables to every
    task instead, so the exploded rows NEVER cross the wire and the
    only scoring-side exchange left is the per-doc partial aggregate —
    the production case whenever the reference vocab fits in executor
    memory (a KenLM binary is exactly such a broadcast model)."""
    if model_join not in ("shuffle_hash", "broadcast"):
        raise ValueError(f"unknown model_join: {model_join!r}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    is_ref = (
        F.pmod(
            hash64(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))),
            F.lit(100),
        )
        < train_pct
    )
    big = base.select(
        "doc_id",
        F.explode(word_shingles(F.col("toks"), 2)).alias("bigram"),
    ).withColumn("ctx", F.substring_index(F.col("bigram"), " ", 1))
    ref_big = base.where(is_ref).select(
        F.explode(word_shingles(F.col("toks"), 2)).alias("bigram")
    ).withColumn("ctx", F.substring_index(F.col("bigram"), " ", 1))
    c12 = ref_big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    c1 = ref_big.groupBy("ctx").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        base.where(is_ref)
        .select(F.explode("toks").alias("token"))
        .agg(F.countDistinct("token").alias("v"))
    )
    a = float(alpha)
    # v = 0 (EMPTY reference slice) means there is no model: emit NULL
    # rather than divide by zero (ANSI mode errors, non-ANSI poisons
    # with inf). The when() short-circuits per row, so the division
    # never evaluates at v = 0.
    lp = F.when(
        F.col("v") > 0,
        F.round(
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(a))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(a) * F.col("v"))
            ),
            9,
        ),
    )
    if model_join == "broadcast":
        c12, c1 = F.broadcast(c12), F.broadcast(c1)
    else:
        c12, c1 = c12.hint("shuffle_hash"), c1.hint("shuffle_hash")
    scored = (
        big.join(c12, "bigram", "left")
        .join(c1, "ctx", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("lp").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logprob"),
    )
    return (
        base.select("doc_id", is_ref.alias("is_ref"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "is_ref",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
        )
    )


def ppl_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    train_pct: int = 20,
    salt: str = "bigram-ref",
    n_buckets: int = 32,
) -> DataFrame:
    """CCNet's defining output artifact (Wenzek et al. 2020 §4.3):
    bucket the corpus into head / middle / tail TERCILES of reference-
    LM perplexity (head = most reference-like; CCNet trains on head,
    ships all three labeled). Built on ``bigram_logprob_scores``; docs
    too short to score (no bigrams) go to an explicit 'unscored'
    bucket rather than vanishing.

    The global perplexity rank uses ``grouped_partitioned_rank`` with
    an empty group — the two-pass range-bucketed form — because the
    naive ``row_number().over(Window.orderBy(ppl))`` is a single-task
    global sort (the r7 scale-killer this repo already retired).
    Tercile boundaries are rank-based (rank*3 <= n / <= 2n), so engine
    ULP noise in ppl cannot move a doc across a bucket except by
    reordering ties — and ties order by the doc_id tiebreaker.

    Output: the bigram score columns + ppl_rank (int, NULL when
    unscored) + ppl_bucket in {'head','middle','tail','unscored'}."""
    from tweetaggregates_spark.operators.prefix import (
        grouped_partitioned_rank,
    )

    # FOUR downstream passes need the scores (the rank's quantile-cut
    # probe, the local rank itself, the bucket join, the unscored
    # branch) — without a barrier each re-runs the two model joins; a
    # lazy localCheckpoint computes the score table once (it is the
    # output artifact anyway: 6 narrow columns, corpus rows).
    # Measured 8.5 -> ~3 s at sf0.1.
    scored = bigram_logprob_scores(
        df, text_col, id_col, alpha=alpha, train_pct=train_pct, salt=salt
    ).localCheckpoint(eager=False)
    nonnull = scored.where(F.col("ppl").isNotNull())
    ranked = grouped_partitioned_rank(
        nonnull,
        [],
        "ppl",
        tiebreakers=["doc_id"],
        ascending=True,
        n_buckets=n_buckets,
        rank_name="ppl_rank",
        count_name="__n",
    )
    bucketed = ranked.select(
        "doc_id", "is_ref", "n_bigrams", "avg_logprob", "ppl", "ppl_rank",
        F.when(F.col("ppl_rank") * 3 <= F.col("__n"), F.lit("head"))
        .when(F.col("ppl_rank") * 3 <= 2 * F.col("__n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    unscored = scored.where(F.col("ppl").isNull()).select(
        "doc_id", "is_ref", "n_bigrams", "avg_logprob", "ppl",
        F.lit(None).cast("int").alias("ppl_rank"),
        F.lit("unscored").alias("ppl_bucket"),
    )
    return bucketed.unionByName(unscored)


# ---------------------------------------------------------------------------
# HTML main-content extraction (round 11): the trafilatura/resiliparse
# role in a crawl-curation pipeline — strip script/style, split the
# page into block-level fragments, keep the text-dense low-link-density
# blocks, rejoin. Entirely array higher-order functions: map-only, no
# shuffle, no UDF; the DuckDB twin replays the same regexes.
# ---------------------------------------------------------------------------

_HTML_BLOCK_SPLIT = "</?(p|div|nav|footer|header|title|head|body|html|ul|li|h1)[^>]*>"
_HTML_TAG = "<[^>]*>"
_HTML_SCRIPT = "<(script|style)[^>]*>[^<]*</(script|style)>"


def attach_synth_html(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Wrap each doc's text in a deterministic synthetic page so the
    extractor exercises every branch: a <title>, a <nav> of link
    boilerplate (link-dense — must drop), the real text inside
    <div><p> (must keep), an optional mid-page <ul> of related links
    (doc_id % 3 == 0), an inline <script> (must strip), and a
    <footer> (short + linky — must drop). Pure Column concat; the
    twin rebuilds the identical string in SQL."""
    did = F.col(id_col)
    nav = F.concat(
        F.lit('<nav><a href="/">home</a> <a href="/tags">tags</a> '
              '<a href="/about">about</a> <a href="/login">login</a></nav>')
    )
    related = F.when(
        did % 3 == 0,
        F.lit('<ul><li><a href="/r1">related one</a></li>'
              '<li><a href="/r2">related two</a></li></ul>'),
    ).otherwise(F.lit(""))
    return df.withColumn(
        "html",
        F.concat(
            F.lit("<html><head><title>doc "),
            did.cast("string"),
            F.lit('</title><script>var trk="'),
            did.cast("string"),
            F.lit('";</script></head><body>'),
            nav,
            F.lit('<div class="content"><p>'),
            F.coalesce(F.col(text_col), F.lit("")),
            F.lit("</p></div>"),
            related,
            F.lit('<footer><a href="/terms">terms</a> (c) example</footer>'
                  "</body></html>"),
        ),
    )


def html_main_text(
    df: DataFrame,
    html_col: str = "html",
    min_block_chars: int = 20,
    max_links_per_5_words: int = 1,
) -> DataFrame:
    """Extract the main text of an HTML page by block text density —
    the standard boilerplate-removal heuristic (Kohlschuetter et al.
    WSDM'10 / trafilatura): strip <script>/<style> payloads, split on
    block-level tags, and keep fragments that are long enough AND not
    link-dominated (links counted BEFORE inline-tag stripping:
    n_links * 5 <= max_links_per_5_words * n_words). Adds:

    * ``extracted_text`` — kept blocks joined by one space, inline
      tags stripped, whitespace collapsed;
    * ``n_blocks`` — non-empty fragments seen;
    * ``n_blocks_kept`` — fragments surviving the density rule.

    Map-only: regexp split -> transform/filter over the fragment
    array -> array_join. No shuffle, no UDF — at 100 TB this runs at
    scan speed alongside the other single-pass signals.

    Known limits (pinned on the hand-authored realistic pages in
    tests/fixtures/html — tests/test_html_fixtures.py):
    * a raw ``>`` inside an attribute value (legal but rare HTML)
      terminates the ``<[^>]*>`` tag match early and leaks the tag's
      tail into the text (bounded by the tag length);
    * an HTML comment containing ``>`` strips only up to that ``>``;
      the residue usually falls below ``min_block_chars`` but can
      survive inside a long block;
    * tables are not block splitters: cell text joins the surrounding
      prose (fine for LM corpora, wrong for layout-aware use);
    * a ``<script>``/``<style>`` payload containing ``<`` (regex is
      ``[^<]*``) only strips up to it. Entity-encoded attributes,
      unclosed/unquoted tags, nested divs and inline CSS are handled
      correctly per the fixture pins."""
    noscript = F.regexp_replace(F.col(html_col), _HTML_SCRIPT, " ")
    frags = F.split(noscript, _HTML_BLOCK_SPLIT)
    # per fragment: stripped text (inline tags out, whitespace
    # collapsed) and the pre-strip link count
    stripped = lambda x: F.trim(  # noqa: E731
        F.regexp_replace(F.regexp_replace(x, _HTML_TAG, " "), r"\s+", " ")
    )
    n_links = lambda x: (  # noqa: E731
        F.length(x) - F.length(F.regexp_replace(x, "<a ", ""))
    ) / 3
    blocks = F.filter(
        F.transform(
            frags,
            lambda x: F.struct(
                stripped(x).alias("t"), n_links(x).cast("int").alias("l")
            ),
        ),
        lambda s: s["t"] != "",
    )
    words = lambda t: F.size(F.split(t, " "))  # noqa: E731
    kept = F.filter(
        blocks,
        lambda s: (F.length(s["t"]) >= min_block_chars)
        & (s["l"] * 5 <= F.lit(max_links_per_5_words) * words(s["t"])),
    )
    return (
        df.withColumn("_blocks", blocks)
        .withColumn("_kept", kept)
        .withColumn(
            "extracted_text",
            F.array_join(F.transform("_kept", lambda s: s["t"]), " "),
        )
        .withColumn("n_blocks", F.size("_blocks"))
        .withColumn("n_blocks_kept", F.size("_kept"))
        .drop("_blocks", "_kept")
    )


# -- persisted token / retrieval index lifecycle (VERDICT r13 #3) ------------


class TokenIndex(NamedTuple):
    """The retrieval index stats — built from a corpus
    (``_token_index``) or folded from the persisted index
    (``read_token_index``): exactly the four materialized stats
    ``_bm25_score`` consumes."""

    tf: DataFrame      # (doc_id, token, tf)
    dl: DataFrame      # (doc_id, dl)
    dft: DataFrame     # (token, doc_freq)
    stats: DataFrame   # 1 row: (n_docs, total_tokens)

    def families(self) -> list[tuple[str, DataFrame]]:
        """The persisted families in COMMIT ORDER, tf last — the commit
        point ``read_token_index`` keys versions off. ``commit_bases``
        writes tf's temp first: for a built index that materializes the
        lazy checkpoint dl / df / stats read."""
        return [
            ("dl", self.dl), ("df", self.dft), ("stats", self.stats),
            ("tf", self.tf),
        ]


def _token_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tokens_col: str | None = None,
) -> TokenIndex:
    """The four index stats of ``df`` from ONE token scan + one
    (doc, token) shuffle. ``tokens_col``: optional pre-tokenized array
    column (exactly tokens(text)); value-identical.

    Each doc row also explodes one NULL token, a sentinel whose
    (doc_id, NULL) group has tf 0 and exists once per distinct doc id,
    tokenless docs included. The (doc, token) groups MATERIALIZE (lazy
    local checkpoint, computed on first action, then shared; r15:
    re-running tokenize+explode+groupBy per consumer cost 4.6 s ->
    2.x s at sf0.1) and all four stats derive from them: tf drops the
    sentinels, dl (Σ tf per doc) and df come from tf, and stats is one
    1-row aggregate — n_docs counts the non-NULL doc ids' sentinels
    (= countDistinct(id_col)), total_tokens = Σ tf. The materialized tf
    IS the inverted index a deployment persists (build_token_index)."""
    doc_toks = (
        F.col(tokens_col) if tokens_col else tokens(F.col(text_col))
    )
    # coalesce first: concat with a NULL array is NULL, which would
    # drop a NULL-text doc's sentinel and with it its n_docs count
    grams = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.concat(
                    F.coalesce(doc_toks, F.array().cast("array<string>")),
                    F.array(F.lit(None).cast("string")),
                )
            ).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("token").alias("tf"))
        .localCheckpoint(eager=False)
    )
    tf = grams.filter(F.col("token").isNotNull())
    sentinel = F.col("token").isNull() & F.col("doc_id").isNotNull()
    total = F.coalesce(F.sum("tf"), F.lit(0).cast("long"))
    return TokenIndex(
        tf=tf,
        dl=tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        dft=tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq")),
        stats=grams.agg(
            F.count_if(sentinel).alias("n_docs"), total.alias("total_tokens")
        ),
    )


def build_token_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the inverted/retrieval index ONCE (VERDICT r13 #3):
    ``bm25_topk`` rebuilds tf/dl/df/N per call, which is the right
    oracle-baseline shape but not a deployment — at 100 TB the token
    scan and its two corpus-sized groupBys dwarf every query, so a
    real system persists them and serves retrieval from the index
    (what Lucene/ES call the inverted index + norms + collection
    stats). Same versioned-store contract as the band/CDC/IVF-PQ
    index families (``versioned_store``): this commits base ``v=0``
    for four families (temp writes, then renames, tf last) — tf (the
    postings with term frequencies), dl (doc lengths — Lucene's
    norms), df (document frequencies) and the 1-row collection stats.
    df and stats are ADDITIVE over disjoint-doc batches, so increments
    fold by sum — no corpus rescan ever (``append_token_index_delta``)."""
    from tweetaggregates_spark import versioned_store as vs

    vs.commit_bases(
        path,
        [
            (f"{sub}_base", frame)
            for sub, frame in _token_index(df, text_col, id_col).families()
        ],
        0,
    )


def append_token_index_delta(
    batch: DataFrame,
    path: str,
    ingest_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold a NEW batch into the persisted retrieval index: O(batch)
    writes — the batch's own tf/dl rows and its additive df/stats
    deltas commit at ``<family>/v=<ingest_id>`` through
    ``versioned_store.commit_bases`` (temps, then renames, tf last);
    the corpus is never rescanned. Assumes batch doc ids are disjoint
    from prior ingests (the same contract as every index family here)
    and one append at a time per root (they share the temp dirs).
    A crash mid-append leaves no tf/v=<id>, so readers ignore the
    orphans and the retry sweeps them; ``allow_replace`` makes a
    replayed committed ingest re-commit its own version (idempotent)."""
    from tweetaggregates_spark import versioned_store as vs

    vs.commit_bases(
        path,
        _token_index(batch, text_col, id_col).families(),
        int(ingest_id),
        allow_replace=True,
    )


def read_token_index(
    spark: SparkSession, path: str, below: int | None = None
) -> TokenIndex:
    """Open the folded index. tf/dl fold by union (disjoint docs);
    df folds by per-token SUM and stats by 1-row SUM — the additive
    increments that make the fold equal a from-scratch build over
    everything ingested (batching invariance, pinned in
    tests/test_token_index.py). A ONE-part fold (fresh or compacted
    base, or a lone delta) skips both sums: every df part already
    holds one row per token and every stats part one row. ``below=N``
    restricts to versions < N (the streaming replay contract). The tf
    family is authoritative for version selection; the other three
    read at ITS versions, so a crash between family writes can never
    produce a skewed fold."""
    from tweetaggregates_spark import versioned_store as vs

    b, deltas = vs.base_and_deltas(path, "tf_base", "tf", below)
    one_part = (b is not None) + len(deltas) == 1

    def _fold(sub: str, schema: str) -> DataFrame:
        parts = vs.read_family(
            spark, path, f"{sub}_base", sub, b, deltas, schema
        )
        out = vs.union_all(parts)
        if out is None:
            return spark.createDataFrame([], schema)
        return out

    dft = _fold("df", "token STRING, doc_freq BIGINT")
    stats = _fold("stats", "n_docs BIGINT, total_tokens BIGINT")
    if not one_part:
        dft = dft.groupBy("token").agg(F.sum("doc_freq").alias("doc_freq"))
        stats = stats.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
        )
    return TokenIndex(
        tf=_fold("tf", "doc_id BIGINT, token STRING, tf BIGINT"),
        dl=_fold("dl", "doc_id BIGINT, dl BIGINT"),
        dft=dft,
        stats=stats,
    )


def compact_token_index(
    spark: SparkSession, path: str, below: int | None = None
) -> None:
    """Rebase the versioned retrieval index: fold every committed
    delta into fresh bases so read-time fold cost (and the per-token
    df sum fan-in) resets to one scan per family. df/stats deltas
    PRE-AGGREGATE into single rows per token / one stats row — the
    incremental fold is exact integer addition, so compaction is
    result-identical by construction. Crash-safe via
    ``versioned_store.commit_bases`` (tf base renamed LAST = the
    commit point) + post-commit cleanup, the same contract as
    ``compact_band_index``."""
    from tweetaggregates_spark import versioned_store as vs

    b, deltas = vs.base_and_deltas(path, "tf_base", "tf", below)
    if not deltas:
        return
    idx = read_token_index(spark, path, below)
    newv = max(deltas)
    # each frame folds its OWN persisted family (no shared lazy
    # checkpoint), so the non-final temps overlap safely
    vs.commit_bases(
        path,
        [(f"{sub}_base", frame) for sub, frame in idx.families()],
        newv,
    )
    vs.cleanup_after_compact(
        path,
        ["dl", "df", "stats", "tf"],
        ["dl_base", "df_base", "stats_base", "tf_base"],
        newv,
    )


def bm25_topk_indexed(
    index: TokenIndex,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_query_terms: int = 8,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval served from the PERSISTED index — the deployment
    path (``bm25_topk`` is the scan-per-call twin): zero corpus
    access; the only work is the broadcast query-term join onto the
    stored postings and the per-query top-k window. Identical scoring
    expression (``_bm25_score``), so indexed and scan-per-call results
    are bit-equal over the same corpus; query ids must be keys."""
    return _bm25_score(
        index, queries,
        query_id_col=query_id_col, query_text_col=query_text_col,
        n_query_terms=n_query_terms, k=k, k1=k1, b=b,
    )
