"""Text-analysis operators for training-data pipelines over `documents`
(doc_id, text, lang, source, n_chars): token counting, quality scoring,
language-ID, document fingerprinting.

Every operator here is built from JVM-side expressions only (no Python
in the hot path) and is written to be *SQL-portable*: the exact same
formulas are emitted as DuckDB SQL by __spark_entry__.oracle_sql(), so
the driver's correctness gate checks them value-for-value.

Scale: all are single-pass projections (no shuffle) except the
aggregating variants, which do one groupBy with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# language marker words (shared with the SQL oracle)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "los", "es"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "das", "und", "ist"],
}
STOPWORDS = ["the", "a", "of", "and", "is", "in", "to", "row", "data", "table"]

# BPE-ish token regex: word pieces OR single non-space punctuation
TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_re_tokens): whitespace tokens + BPE-ish
    regex tokens."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0))
         .alias("n_re_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, len_chars, punct_ratio, stop_ratio, quality): simple
    length/punctuation/stopword quality heuristic."""
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_char = F.length("text")
    n_punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    punct_ratio = n_punct.cast("double") / n_char
    stop_ratio = n_stop.cast("double") / n_tok
    quality = (
        F.least(n_char / F.lit(500.0), F.lit(1.0)) * 0.4
        + (1.0 - punct_ratio) * 0.3
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.3
    )
    return docs.select(
        "doc_id",
        n_char.alias("len_chars"),
        F.round(punct_ratio, 9).alias("punct_ratio"),
        F.round(stop_ratio, 9).alias("stop_ratio"),
        F.round(quality, 9).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang): marker-word-count argmax with fixed
    preference order (en > es > fr > de) on ties — an n-gram-style
    heuristic expressed entirely as Catalyst expressions."""
    toks = F.split(F.trim(F.lower("text")), r"\s+")

    def marker_filter(words):
        # NB: a one-arg closure, NOT a default-arg lambda — pyspark would
        # read a second parameter as the (element, index) HOF form
        return lambda t: t.isin(words)

    counts = {
        lang: F.size(F.filter(toks, marker_filter(words)))
        for lang, words in LANG_MARKERS.items()
    }
    en, es, fr, de = counts["en"], counts["es"], counts["fr"], counts["de"]
    pred = (
        F.when((en >= es) & (en >= fr) & (en >= de), "en")
         .when((es >= fr) & (es >= de), "es")
         .when(fr >= de, "fr")
         .otherwise("de")
    )
    return docs.select("doc_id", pred.alias("pred_lang"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): 60-bit content fingerprint of the normalized text
    (md5 prefix as bigint — portable to any SQL engine)."""
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    fp = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint")
    return docs.select("doc_id", fp.alias("fp"))

