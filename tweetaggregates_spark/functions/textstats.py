"""Text primitives shared by the dedup / text-analysis operators.

Tokenization is THE contract between engine and oracle — both must
produce identical token lists:

Spark:  filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')
DuckDB: list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')

All pure Column expressions (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# tiny English function-word list for the lang-id heuristic
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

# per-language function-word sets for multi-language lang-id. Accent-free
# on purpose: the token contract splits on [^a-z0-9], so accented forms
# never survive tokenization — only ascii function words discriminate.
# "a"/"en"/"de" style collisions are resolved by the ratio argmax.
LANG_STOPWORDS = {
    "en": EN_STOPWORDS,
    "es": ("que", "el", "los", "se", "del", "las", "por", "con", "una",
           "su", "para", "es", "al", "lo", "como", "mas", "pero", "sus",
           "este", "ya"),
    "fr": ("le", "les", "des", "du", "une", "et", "qui", "dans", "pour",
           "pas", "sur", "ne", "ce", "il", "est", "je", "vous", "nous",
           "au", "avec"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "zu", "den", "dem", "mit", "sich", "auf", "im", "dass", "er",
           "sie", "als", "auch"),
}
LANG_PRED_THRESHOLD = 0.08  # best ratio below this => "unknown"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingles as space-joined strings; empty array when the
    document has fewer than k tokens (guard against Spark's decreasing
    ``sequence``)."""
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duck_tokens(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        " x -> x <> '')"
    )
