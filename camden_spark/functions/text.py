"""Text-analysis columns for training-data pipelines.

All JVM-side builtins where possible (token count, quality ratios — these stay
inside whole-stage codegen and have exact DuckDB oracle equivalents); language
ID is a vectorized pandas UDF (stopword-profile scoring, deterministic);
document fingerprint is a single builtin xxhash64.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StringType

#: tiny deterministic stopword profiles (public common-word lists)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "para"),
    "fr": ("le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "这", "人"),
}

#: punctuation class shared verbatim with the DuckDB oracle (explicit set —
#: Java regex and RE2 agree on it, unlike [[:punct:]])
PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}<>/@#$%^&*_+=~`|\\-]"
DIGIT_CLASS = r"[0-9]"


#: explicit ascii whitespace class for tokenization, pinned on BOTH engines:
#: Java's ``\s`` includes \x0B (vertical tab) while DuckDB/RE2's does not, so
#: ``\s`` would drift on VT-containing text (same reasoning as lang_id_udf).
WS_CLASS = r"[ \t\n\f\r]"


def token_count(col: str = "text") -> Column:
    """Whitespace token count — builtin split, exact oracle parity.  Splits
    on the explicit ascii class ``WS_CLASS``, not ``\\s`` (see WS_CLASS)."""
    trimmed = F.trim(F.col(col))
    return (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, WS_CLASS + "+")))
        .cast("long")
    )


def _ratio(match_class: str, col: str) -> Column:
    text = F.col(col)
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, match_class, ""))
    return F.when(n > 0, (n - stripped).cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Adds n_chars, n_tokens, punct_ratio, digit_ratio, avg_token_len,
    quality_score — all codegen'd builtins, deterministic double arithmetic
    (mirrored exactly in the oracle SQL)."""
    n_chars = F.length(F.col(col)).cast("long")
    n_tokens = token_count(col)
    punct = _ratio(PUNCT_CLASS, col)
    digit = _ratio(DIGIT_CLASS, col)
    avg_tok = F.when(
        n_tokens > 0, n_chars.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    # simple monotone quality heuristic: long docs with modest punctuation,
    # few digits, and plausible word lengths score high
    quality = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        * (F.lit(1.0) - F.least(punct * 4, F.lit(1.0)))
        * (F.lit(1.0) - F.least(digit * 4, F.lit(1.0)))
        * F.when((avg_tok >= 3.0) & (avg_tok <= 12.0), F.lit(1.0)).otherwise(
            F.lit(0.5)
        )
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(punct, 6))
        .withColumn("digit_ratio", F.round(digit, 6))
        .withColumn("avg_token_len", F.round(avg_tok, 6))
        .withColumn("quality_score", F.round(quality, 6))
    )


def with_quality_flags(
    df: DataFrame,
    col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_punct_ratio: float = 0.20,
    max_digit_ratio: float = 0.30,
) -> DataFrame:
    """Gopher-style hard quality rules (Rae et al. 2021, "Scaling Language
    Models", §A1.1 filter family) as boolean flag columns + a combined
    ``passes`` verdict.  All flags are codegen'd builtins sharing the pinned
    ``WS_CLASS``/``PUNCT_CLASS``/``DIGIT_CLASS`` regexes, so the DuckDB
    oracle can state each rule verbatim.

    Flags are failure-positive (True = rule violated) so downstream can
    report per-rule drop counts — the counted-not-silent drop discipline the
    rest of the engine follows (e.g. mega-band caps, lsh.py).
    """
    n_chars = F.length(F.col(col)).cast("long")
    n_words = token_count(col)
    mean_wl = F.when(
        n_words > 0, n_chars.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    punct = _ratio(PUNCT_CLASS, col)
    digit = _ratio(DIGIT_CLASS, col)
    too_short = n_words < min_words
    too_long = n_words > max_words
    bad_mean_wl = (n_words > 0) & (
        (mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len)
    )
    too_much_punct = punct > max_punct_ratio
    too_many_digits = digit > max_digit_ratio
    return (
        df.withColumn("n_words", n_words)
        .withColumn("flag_too_short", too_short)
        .withColumn("flag_too_long", too_long)
        .withColumn("flag_mean_word_len", bad_mean_wl)
        .withColumn("flag_punct", too_much_punct)
        .withColumn("flag_digits", too_many_digits)
        .withColumn(
            "passes",
            ~(
                too_short
                | too_long
                | bad_mean_wl
                | too_much_punct
                | too_many_digits
            ),
        )
    )


def lang_id_udf() -> "F.pandas_udf":
    """Vectorized stopword-profile language classifier → 2-letter code or
    'und'.  Deterministic; ties broken by language-code order (later code
    wins, i.e. max over (count, code)).

    Fully vectorized: per-language stopword hits are one ``Series.str.count``
    regex pass over the lowered batch — ``(?:^|WS)(?:w1|w2|…)(?=WS|$)``
    counts exactly the whitespace-delimited tokens equal to a profile word
    (no per-row Python, no token materialization).  zh additionally counts
    profile characters anywhere in the raw text (zh has no spaces).

    The delimiter class is the EXPLICIT ascii set ``[ \\t\\n\\f\\r]`` rather
    than ``\\s``: Python's ``\\s`` is Unicode-aware (NBSP, ideographic space)
    while the DuckDB oracle's RE2 ``\\s`` is ascii-only — pinning the class on
    both sides keeps the oracle byte-exact on any input."""
    langs = sorted(STOPWORDS)
    ws = r"[ \t\n\f\r]"
    token_pats = {
        lg: rf"(?:^|{ws})(?:" + "|".join(re.escape(w) for w in STOPWORDS[lg])
        + rf")(?={ws}|$)"
        for lg in langs
    }
    zh_char_pat = "[" + "".join(STOPWORDS["zh"]) + "]"

    @F.pandas_udf(StringType())
    def lid(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            t = texts.fillna("").astype("object").astype(str)
            lower = t.str.lower()
            counts = pd.DataFrame(
                {lg: lower.str.count(token_pats[lg]) for lg in langs}
            )
            counts["zh"] = counts["zh"] + t.str.count(zh_char_pat)
            # max over (count, lang code): reversed column order makes idxmax
            # (first max) pick the later code on ties
            rev = counts[langs[::-1]]
            best = rev.idxmax(axis=1)
            yield best.where(rev.max(axis=1) > 0, "und").astype("object")

    return lid


#: BPE-style pre-tokenizer pattern (the GPT-2 pretokenizer's letter-run /
#: number-run / punctuation-run split with optional leading space, minus the
#: contraction special-cases and whitespace tokens, which need lookahead —
#: RE2 (DuckDB oracle) has none).  Alternatives have disjoint first-char
#: classes, so Java regex and RE2 tokenize identically.  The whitespace
#: exclusion is the explicit ascii class, not ``\s`` (see WS_CLASS).
BPE_PIECE_PATTERN = r" ?[\p{L}]+| ?[\p{N}]+| ?[^ \t\n\f\r\p{L}\p{N}]+"


def bpe_piece_count(col: str = "text") -> Column:
    """Subword-piece count under the BPE-style pre-tokenizer — the token
    budget a BPE tokenizer's merge phase starts from (each piece splits into
    ≥1 BPE tokens).  Pure codegen builtin (``regexp_count``)."""
    return F.regexp_count(F.col(col), F.lit(BPE_PIECE_PATTERN)).cast("long")


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 "repetition removal" — the standard webtext quality gate this
    engine's quality_filter complements):

    * ``top_token_frac``  — most-frequent token's share of all tokens
      (mode fraction; boilerplate/keyword stuffing),
    * ``top_bigram_frac`` — most-frequent bigram's share of all bigrams,
    * ``run_frac``        — fraction of tokens equal to their predecessor
      (immediate stutter: "batch batch batch").

    Scale shape: mode requires a per-(doc, term) count, so the plan is
    explode → partial-agg groupBy(doc, term) → groupBy(doc) max/sum —
    token-granular shuffles with map-side combine, the same shape a corpus
    TF job has; ``run_frac`` never leaves the row (zip_with + aggregate,
    pure JVM).  Short docs: fractions are NULL when the denominator is 0
    (no tokens / no bigrams), never a divide-by-zero.
    """
    toks = df.select(
        F.col(id_col),
        F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
        )
        .otherwise(F.split(F.trim(F.lower(text_col)), WS_CLASS + "+"))
        .alias("t"),
    )

    def mode_frac(unit_col: DataFrame, out_name: str) -> DataFrame:
        counts = unit_col.groupBy(id_col, "u").agg(F.count("*").alias("c"))
        return counts.groupBy(id_col).agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                out_name
            )
        )

    tok_units = toks.select(id_col, F.explode("t").alias("u"))
    big_units = toks.select(
        id_col,
        F.explode(
            F.when(
                F.size("t") < 2, F.array().cast("array<string>")
            ).otherwise(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            )
        ).alias("u"),
    )
    runs = toks.select(
        id_col,
        F.size("t").cast("long").alias("n_tokens"),
        F.when(F.size("t") < 2, F.lit(None).cast("double")).otherwise(
            F.aggregate(
                F.zip_with(
                    F.slice("t", 1, F.size("t") - 1),
                    F.slice("t", 2, F.size("t") - 1),
                    lambda a, b: (a == b).cast("int"),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / (F.size("t") - 1).cast("double")
        ).alias("run_frac"),
    )
    return (
        runs.join(mode_frac(tok_units, "top_token_frac"), id_col, "left")
        .join(mode_frac(big_units, "top_bigram_frac"), id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.round("top_token_frac", 6).alias("top_token_frac"),
            F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
            F.round("run_frac", 6).alias("run_frac"),
        )
    )
