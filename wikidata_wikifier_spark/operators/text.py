"""Text analysis (build brief): language-ID heuristic, quality scoring,
token counting and document fingerprinting, fused in text_profile. All
native expressions over the `documents` table — these are the
per-document map stages of a training-data pipeline, so they MUST stay in
whole-stage codegen (no Python) to survive 100 TB scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import norm_text, word_tokens

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "a", "of", "and", "is", "to", "in", "that"],
    "es": ["el", "la", "de", "y", "es", "que", "los", "una"],
    "fr": ["le", "la", "de", "et", "est", "que", "les", "une"],
}

BPE_ISH_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def text_profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All four text-analysis families in ONE document scan (the
    `text_analysis` oracle pins every column):
    - language ID: stopword-profile hit counts per language (score_<lang>),
      argmax with alphabetical tie-break (pred_lang, 'unknown' on no hit);
    - quality: length band + punctuation ratio + stopword ratio + mean
      token length, combined to [0,1];
    - token counts: whitespace tokens + BPE-ish regex tokens (words and
      single punctuation marks, the pre-tokenization a BPE tokenizer sees);
    - fingerprints: md5 of the sorted distinct word tokens (OpenRefine
      key collision) + a polynomial rolling hash of the normalized text.
    One scan matters at 100 TB: four passes over the corpus become one
    projection inside a single whole-stage-codegen'd scan."""
    text = norm_text(F.col(text_col))
    toks = word_tokens(F.col(text_col))
    out = docs.select(
        id_col, F.col(text_col).alias("_t"), text.alias("_norm"), toks.alias("_toks")
    )
    for lang in sorted(LANG_PROFILES):
        out = out.withColumn(
            f"score_{lang}", _stopword_hits(F.col("_toks"), LANG_PROFILES[lang])
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_PROFILES)])
    pred: Column = F.lit("unknown")
    for lang in sorted(LANG_PROFILES, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)).otherwise(pred)
    out = out.withColumn("pred_lang", pred)

    n_chars = F.length("_norm")
    n_toks = F.size("_toks")
    n_punct = F.length(F.regexp_replace(F.col("_norm"), r"[A-Za-z0-9\s]+", ""))
    all_stop = sorted({w for ws in LANG_PROFILES.values() for w in ws})
    n_stop = _stopword_hits(F.col("_toks"), all_stop)
    punct_ratio = F.when(n_chars == 0, F.lit(1.0)).otherwise(n_punct / n_chars)
    stop_ratio = F.when(n_toks == 0, F.lit(0.0)).otherwise(n_stop / n_toks)
    mean_tok_len = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        (n_chars - (n_toks - 1)) / n_toks
    )
    quality = (
        ((n_chars >= 20) & (n_chars <= 20000)).cast("int") * 0.4
        + (punct_ratio <= 0.2).cast("int") * 0.2
        + (stop_ratio >= 0.01).cast("int") * 0.2
        + ((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0)).cast("int") * 0.2
    )
    out = (
        out.withColumn("n_chars_norm", n_chars)
        .withColumn("n_tokens", n_toks)
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn("quality", F.round(quality, 6))
        .withColumn("ws_tokens", n_toks)
        .withColumn(
            "bpe_tokens",
            F.size(F.regexp_extract_all(F.col("_t"), F.lit(BPE_ISH_TOKEN_RE), 0)),
        )
        .withColumn("n_chars_raw", F.length("_t"))
        .withColumn(
            "fingerprint",
            F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("_toks"))), " ")),
        )
        .withColumn(
            "rolling_hash",
            F.aggregate(
                F.split(F.col("_norm"), ""),
                F.lit(0).cast("long"),
                lambda acc, ch: F.pmod(
                    acc * 31 + F.coalesce(F.ascii(ch), F.lit(0)), F.lit(1_000_000_007)
                ),
            ),
        )
    )
    return out.drop("_t", "_norm", "_toks")
