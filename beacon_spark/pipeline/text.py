"""Text analysis operators (north-star extensions, BASELINE.json):
token counting, quality scoring, language ID, document fingerprinting.

Everything is pure Catalyst expressions — whole-stage codegen, no Python
in the hot path — and each has an exact ANSI-SQL equivalent so the DuckDB
oracle can verify it value-for-value.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic.
# Deliberately small so the same lists inline into the oracle SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def _marker_hits(t: Column, words: list[str]) -> Column:
    """Total word-boundary hits of ``words`` in one regex pass.

    Equal by construction to summing per-word ``regexp_count`` calls:
    a ``\\b<w>\\b`` match always spans a whole word (no boundary exists
    inside a word), whole words are disjoint, and the alternation counts
    each such word exactly once — so one alternation scan replaces
    len(words) full scans (each of which materializes a match array via
    RegExpCount -> size(regexp_extract_all)).

    Words are regex-escaped (ADVICE r14): a future marker containing a
    metachar must match literally, not corrupt the whole language's
    alternation; an empty word would make the alternation match every
    boundary, so it is rejected outright. (re.escape only backslash-
    escapes ASCII punctuation, which Java's regex reads identically.)

    Markers must start and end with a word character: the ``\\b``
    anchors sit outside the alternation, so a marker that starts or ends
    with a non-word character matches only where a word character sits
    on that side — ``"c++"`` never matches before a space or at the end
    of the text."""
    import re

    if not words or not all(words):
        raise ValueError(f"empty marker word in {words!r}")
    pat = r"(?i)\b(?:" + "|".join(re.escape(w) for w in words) + r")\b"
    return F.regexp_count(t, F.lit(pat))


def token_count_expr(text_col: str = "text") -> Column:
    """Whitespace token count (the whitespace half of the tokenizer; a
    BPE-ish regex count is ``regexp_count(text, pattern)``)."""
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def quality_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword / uppercase ratios + a composite
    quality score — the standard cheap pre-filters of a training-data
    pipeline. One narrow projection, no shuffle."""
    t = F.col(text_col)
    n_tokens = token_count_expr(text_col)
    n_chars = F.length(t)
    # translate, not regexp_replace: counting chars in a fixed set needs
    # no regex engine and no rebuilt string beyond the translate pass
    # ([.,;:!?] and [A-Z] are literal ASCII sets, so the removed-char
    # semantics are identical)
    n_punct = F.length(t) - F.length(F.translate(t, ".,;:!?", ""))
    n_upper = F.length(t) - F.length(
        F.translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "")
    )
    # word-boundary regexp counts: the old space-split trick missed
    # markers adjacent to punctuation/newlines and shared-space repeats
    # (' the the ' counted 2 of 3), systematically deflating the ratio
    # (?i): sentence-initial markers ('The cat…') count too — the
    # case-sensitive pattern systematically deflated prose ratios
    stop_hits = _marker_hits(t, LANG_MARKERS["en"])
    mean_word_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits,
    'und' (undetermined) when nothing matches. greatest()/chained CASE —
    fully codegen'd, SQL-portable."""
    t = F.col(text_col)
    scores = {
        # (?i): a doc whose markers are all sentence-initial scored 0
        # one alternation pass per language (was one pass per word)
        lang: _marker_hits(t, words) for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # deterministic preference order on ties: en, de, fr, es (dict order)
    for lang in reversed(list(scores)):
        pred = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return df.select(F.col(id_col), pred.alias("lang_pred"))


def fingerprint_expr(text_col: str = "text", length: int = 16) -> Column:
    """Document fingerprint: content hash of the whitespace-normalized
    text (md5 prefix — portable to every SQL engine for oracle checks)."""
    normalized = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    return F.substring(F.md5(normalized), 1, length)


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram_ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):

      - ``dup_line_ratio``: duplicate lines / lines
      - ``dup_word_ratio``: duplicate words / words
      - ``top_{n}gram_char_frac``: characters inside the single most
        frequent word n-gram / total characters, per requested n

    Line/word ratios are pure Catalyst (linear per doc: split +
    array_distinct). The top-n-gram fraction needs a per-doc frequency
    table, which Catalyst can only express quadratically — that runs as
    an Arrow-batched pandas UDF (Counter per doc, linear), the
    documented vectorized path for 100 TB corpora."""
    from collections import Counter
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    lines = F.split(F.col(text_col), r"\n")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.greatest(F.size(lines), F.lit(1)),
            4,
        ).alias("dup_line_ratio"),
        F.round(
            (F.size(words) - F.size(F.array_distinct(words)))
            / F.greatest(F.size(words), F.lit(1)),
            4,
        ).alias("dup_word_ratio"),
    )

    def top_frac(n: int):
        @pandas_udf(T.DoubleType())
        def _udf(texts: pd.Series) -> pd.Series:
            vals = []
            for t in texts:
                if t is None:
                    vals.append(None)
                    continue
                ws = t.split()
                total = len(t)
                if len(ws) < n or total == 0:
                    vals.append(0.0)
                    continue
                grams = Counter(
                    tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)
                )
                gram, cnt = grams.most_common(1)[0]
                # chars covered by the most frequent n-gram's occurrences
                covered = cnt * (sum(len(w) for w in gram) + (n - 1))
                vals.append(round(min(covered / total, 1.0), 4))
            return pd.Series(vals)

        return _udf

    for n in ngram_ns:
        out = out.withColumn(f"top_{n}gram_char_frac", top_frac(n)("__t"))
    return out.drop("__t")


# ---------------------------------------------------------------- scrubbing

# conservative, precision-leaning patterns (training-data scrub standard:
# prefer leaving odd strings over mangling prose)
_PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "url": (r"https?://[^\s<>\"']+", "<URL>"),
    "ip": (
        r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
        r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b",
        "<IP>",
    ),
    "phone": (
        r"\+\d{1,3}[ -]?(?:\(\d{1,4}\)[ -]?)?\d{2,4}(?:[ -]\d{2,4}){1,3}\b",
        "<PHONE>",
    ),
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "url", "ip", "phone"),
    out_col: str | None = None,
) -> DataFrame:
    """Replace emails/URLs/IPs/phone numbers with typed placeholder
    tokens and append per-kind hit counts — chained ``regexp_replace``
    (whole-stage codegen, no UDF; at 100 TB the scrub is a pure map
    stage). Each kind costs two vectorized regex passes over the text
    (a ``regexp_count`` and a ``regexp_replace``), both inside the same
    codegen stage — no shuffle, no Python."""
    out_col = out_col or text_col
    cur = F.col(text_col)
    counts = []
    for kind in kinds:
        pat, token = _PII_PATTERNS[kind]
        # count against the ORIGINAL text: counting the partially-
        # scrubbed value made n_<kind> depend on the kinds order and
        # double-counted spans (an email inside a URL hit both)
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token)
    keep = [F.col(c) for c in df.columns if c != out_col]
    return df.select(*keep, *counts, cur.alias(out_col))


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_chars: int = 50,
    max_chars: int = 100_000,
    max_dup_line_ratio: float = 0.3,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style document filter composed from the metric expressions
    — single pass, all Catalyst; each rejection reason is cheap to audit
    by selecting the metric columns before filtering."""
    lines = F.split(F.col(text_col), r"\n")
    n_chars = F.length(text_col)
    dup_line = (F.size(lines) - F.size(F.array_distinct(lines))) / F.greatest(
        F.size(lines), F.lit(1)
    )
    punct = (
        n_chars
        - F.length(F.translate(F.col(text_col), ".,;:!?", ""))
    ) / F.greatest(n_chars, F.lit(1))
    return df.filter(
        (n_chars >= min_chars)
        & (n_chars <= max_chars)
        & (dup_line <= max_dup_line_ratio)
        & (punct <= max_punct_ratio)
    )
