"""Text-analysis functions for training-data pipelines (driver-required
component: language-ID heuristic, quality scoring, token counting, document
fingerprinting).

Every function is designed to be exactly mirrorable in DuckDB SQL (no regex
classes with engine-specific semantics, no engine hash functions): plain
splits, replace-based occurrence counts, and bounded modular arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: stopword marker lists per language (heuristic language-ID)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
}

_FP_MOD = 1000000007
_FP_POW = [31 ** (i % 4) for i in range(4)]  # bounded powers, see fingerprint

#: boundary fixtures for the dedicated lang_id / quality_score oracle row
#: (q_lang_quality): each entry is a text (or ("repeat", s, n) for long
#: texts) sitting exactly ON a marker-table or threshold edge, so a
#: regression in LANG_MARKERS or the quality bands flips this row's hash
#: directly instead of hiding inside text_stats.  Shared by the Spark
#: query and the SQL mirror so both synthesize identical strings.
LANG_BOUNDARY_CASES = [
    "the and of to is",        # every en marker once
    "der die und nicht ist",   # every de marker once
    "le la et les est",        # every fr marker once
    "the der le filler",       # 3-way tie -> alphabetical winner 'de'
    "",                        # empty -> 'unknown', quality 0.0
    "xyzzy plugh",             # no markers -> 'unknown', quality 0.1
    "the cat sat on mat..",    # len 20 (in band) + punct 0.1 + stopword
    "the cat sat on mats",     # len 19 (just below the band)
    "abcdefgh..",              # punct exactly 0.2 -> excluded (strict <)
    "abcdefghi.",              # punct 0.1 -> included
    ("repeat", "ab", 2501),    # len 5002 (just above the band)
    ("repeat", "a", 5000),     # len 5000 (top of the band, inclusive)
    "the a b c d e f g h i",   # 10 tokens, 1 stopword -> density holds
    "the a b c d e f g h i j", # 11 tokens, 1 stopword -> density fails
]


def token_count(text: Column) -> Column:
    """Whitespace token count (empty tokens from repeated spaces included,
    matching length-arithmetic mirrors):
    len(text) - len(replace(text,' ','')) + 1, 0 for empty text."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit(""))) + 1
    )


def subword_token_count(text: Column) -> Column:
    """Real BPE subword token count over the committed merges table —
    delegates to :func:`..functions.bpe.bpe_token_count` (which replaced
    the earlier <=4-char-piece regex proxy; see functions/bpe.py for the
    encoder and its SQL mirror)."""
    from .bpe import bpe_token_count

    return bpe_token_count(text)


def occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via replace-length arithmetic."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def punct_ratio(text: Column) -> Column:
    """Fraction of . , ; : ! ? characters."""
    stripped = text
    for ch in [".", ",", ";", ":", "!", "?"]:
        stripped = F.replace(stripped, F.lit(ch), F.lit(""))
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text)
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per language over ' '-padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(
            (occurrences(padded, f" {w} ") for w in words), F.lit(0)
        )
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language, ties broken by alphabetical order, 'unknown' when no
    marker hits at all."""
    scores = lang_scores(text)
    langs = sorted(scores)  # alphabetical tie-break
    best = None
    for lang in langs:
        if best is None:
            best = F.struct(scores[lang].alias("s"), F.lit(lang).alias("l"))
        else:
            cand = F.struct(scores[lang].alias("s"), F.lit(lang).alias("l"))
            best = F.when(cand["s"] > best["s"], cand).otherwise(best)
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """Composite 0..1 quality heuristic: length band + punctuation sanity +
    stopword presence (any language)."""
    n = F.length(text)
    tokens = token_count(text)
    length_ok = F.when((n >= 20) & (n <= 5000), 0.4).otherwise(
        F.when(n > 0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    punct = punct_ratio(text)
    punct_ok = F.when((punct > 0) & (punct < 0.2), 0.3).otherwise(F.lit(0.0))
    scores = lang_scores(text)
    any_stop = None
    for c in scores.values():
        any_stop = c if any_stop is None else (any_stop + c)
    stop_ok = F.when(any_stop * 10 >= tokens, 0.3).otherwise(F.lit(0.0))
    return F.round(length_ok + punct_ok + stop_ok, 1)


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: sum over character positions i of
    code(char_i) * 31^(i mod 4), mod 1e9+7 — bounded so both BIGINT engines
    agree without overflow.  Output: (doc_id, fingerprint)."""
    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "")).alias("i", "ch"),
    ).where(F.col("ch") != "")
    contrib = F.ascii(F.col("ch")).cast("long") * F.element_at(
        F.array(*[F.lit(p) for p in _FP_POW]), (F.col("i") % 4 + 1).cast("int")
    )
    return (
        chars.groupBy("doc_id")
        .agg((F.sum(contrib) % _FP_MOD).alias("fingerprint"))
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc text statistics frame: (doc_id, n_chars, n_tokens,
    punct_ratio, lang, quality)."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        subword_token_count(t).alias("n_subwords"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        lang_id(t).alias("lang"),
        quality_score(t).alias("quality"),
    )
