"""Text analysis: token counting, quality scoring, language ID,
document fingerprinting.  All built-in SQL expressions — no Python in
the hot path; deterministic so DuckDB oracles reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import k_shingles

STOPWORDS = ("the", "a", "of", "and", "to")

# tiny deterministic marker lists for the n-gram/stopword language
# heuristic; real deployments would plug a fasttext-style model in the
# same column contract.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "die", "und"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
}


def token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count, distinct tokens, char length per doc."""
    toks = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features: stopword ratio, mean token length,
    repetition ratio; plus a coarse keep/drop flag (the standard
    pre-training corpus filters, deterministic)."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    stop_cnt = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    mean_tok_len = (F.length(F.col(text_col)) - (n - 1)) / n
    stop_ratio = stop_cnt / n
    return docs.select(
        F.col(id_col),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        (
            (n >= 10) & (distinct_ratio >= 0.2)
        ).alias("keep"),
    )


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language scores + argmax prediction (deterministic
    tie-break by language code)."""
    toks = F.split(F.col(text_col), " ")
    scores = [
        F.size(
            F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in markers]))
        ).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select(F.col(id_col), *scores)
    langs = sorted(LANG_MARKERS)
    best = F.reverse(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.col(f"score_{lang}").alias("s"),
                        F.lit(-i).alias("ordr"),  # tie -> first lang code
                        F.lit(lang).alias("lang"),
                    )
                    for i, lang in enumerate(langs)
                ]
            )
        )
    )[0]
    return scored.withColumn("predicted_lang", best.getField("lang"))


def fingerprint(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content fingerprint: minimum k-shingle hash (winnowing-lite, a
    1-perm MinHash).  Documents sharing a fingerprint are near-dup
    candidates; string-min over sha2 hex is engine-portable."""
    return docs.select(
        F.col(id_col),
        F.array_min(
            F.transform(k_shingles(F.col(text_col), k), lambda s: F.sha2(s, 256))
        ).alias("fingerprint"),
    )
