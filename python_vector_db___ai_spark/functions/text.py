"""Text scalar functions (SURVEY §2.11 F1-F8) + training-data text
analysis (language ID, quality scoring, token counting, fingerprinting).

All hot-path functions are built-in expression chains (regexp_replace /
split / array ops) so they run JVM-side inside whole-stage codegen; the
only Python is the optional NFKC normalizer (F1), which needs
``unicodedata`` and ships as an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Cleaning (F2-F4, day_10/utils/text_processor.py:67-134)

# Mojibake/encoding fix table (day_10/utils/text_processor.py:67-84).
_ENCODING_FIXES = [
    ("â€™", "'"),   # â€™ -> '
    ("â€œ", '"'),   # â€œ -> "
    ("â€", '"'),   # â€? -> "
    ("â€“", "-"),   # â€“ -> -
    ("â€”", "-"),   # â€” -> -
    ("Ã©", "é"),    # Ã© -> é
    ("Ã¨", "è"),    # Ã¨ -> è
    ("Ã¼", "ü"),    # Ã¼ -> ü
    ("Ã¶", "ö"),    # Ã¶ -> ö
    ("Ã¤", "ä"),    # Ã¤ -> ä
]


def fix_encoding(c: Column) -> Column:
    """F2: chained replace of common mojibake sequences."""
    for bad, good in _ENCODING_FIXES:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def normalize_whitespace(c: Column) -> Column:
    """F3: collapse runs of spaces/tabs, cap blank lines at one,
    strip trailing space (structure-preserving,
    day_10/utils/text_processor.py:86-97)."""
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(c)


def fix_punctuation(c: Column) -> Column:
    """F4: spacing around punctuation and doubled marks
    (day_10/utils/text_processor.py:111-134)."""
    c = F.regexp_replace(c, r" +([.,;:!?])", r"$1")
    c = F.regexp_replace(c, r"([.,;:!?])([A-Za-z])", r"$1 $2")
    c = F.regexp_replace(c, r"([!?]){2,}", r"$1")
    return c


def clean_text(c: Column) -> Column:
    """F2→F3→F4 cleaning chain, pure expressions (the reference's
    ``TextProcessor.clean_text`` minus NFKC, which is
    :func:`nfkc_normalize`)."""
    return normalize_whitespace(fix_punctuation(fix_encoding(c)))


@F.pandas_udf(T.StringType())
def nfkc_normalize(s: pd.Series) -> pd.Series:
    """F1: Unicode NFKC normalization (no Spark builtin) — Arrow-batched
    pandas UDF (day_10/utils/text_processor.py:46-49)."""
    import unicodedata

    return s.map(lambda x: unicodedata.normalize("NFKC", x)
                 if x is not None else None)


# --------------------------------------------------------------------------
# Metadata extraction (F6/F8)

def text_metadata(c: Column) -> dict[str, Column]:
    """F6: char/word/line counts + structure flags
    (day_10/utils/text_processor.py:136-154)."""
    return {
        "char_count": F.length(c).cast("long"),
        "word_count": F.size(F.filter(F.split(c, r"\s+"), lambda w: w != ""))
                       .cast("long"),
        "line_count": (F.size(F.split(c, r"\n")) ).cast("long"),
        "paragraph_count": F.size(F.filter(F.split(c, r"\n\n+"),
                                           lambda p: F.trim(p) != "")).cast("long"),
        "has_headers": c.rlike(r"(?m)^#{1,6} "),
        "has_lists": c.rlike(r"(?m)^\s*[-*+] "),
        "has_code": c.contains("```"),
    }


# --------------------------------------------------------------------------
# Language identification (F7 heuristic, generalized to 5 languages)

STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein",
           "eine", "nicht", "auch", "auf", "es"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
           "that", "this", "it", "as", "are"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "por",
           "los", "las", "con", "para", "no"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "dans", "pour", "que",
           "les", "des", "du", "il", "ne"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人",
           "都", "一", "上", "也", "他"],
}
MIN_STOPWORD_HITS = 3


def _distinct_words(c: Column) -> Column:
    return F.array_distinct(
        F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != ""))


def lang_scores(c: Column) -> dict[str, Column]:
    """Distinct-stopword hit count per language (F7 pattern:
    ``size(array_intersect(words, stopwords))``,
    day_10/utils/text_processor.py:156-167)."""
    words = _distinct_words(c)
    return {
        lang: F.size(F.array_intersect(
            words, F.array(*[F.lit(w) for w in sw]))).cast("long")
        for lang, sw in STOPWORDS.items()
    }


def detect_language(c: Column,
                    scores: dict[str, Column] | None = None) -> Column:
    """Argmax language with >= MIN_STOPWORD_HITS distinct stopword hits,
    else 'unknown'.  Ties resolve to the alphabetically first language —
    the same CASE cascade the DuckDB oracle uses.

    Pass precomputed ``scores`` (from :func:`lang_scores`) when the
    caller also projects them — shares the split/intersect subtrees
    instead of instantiating them twice in the same projection."""
    if scores is None:
        scores = lang_scores(c)
    best = F.greatest(*scores.values())
    out = F.lit("unknown")
    # Build the cascade back-to-front so alphabetically-first wins ties.
    for lang in sorted(scores, reverse=True):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best >= MIN_STOPWORD_HITS, out).otherwise(F.lit("unknown"))


# --------------------------------------------------------------------------
# Quality scoring

_PUNCT_CLASS = r"[.,;:!?'\"()\-]"


def quality_metrics(c: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / vocabulary-diversity ratios
    (generalizing day_10/chunkers/token_chunker.py:237-267 complexity
    scoring to a pretraining-style quality gate)."""
    words = F.filter(F.split(F.lower(c), r"\s+"), lambda w: w != "")
    n_chars = F.length(c).cast("double")
    n_words = F.size(words).cast("double")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(en_stop, w))) \
              .cast("double")
    punct = (n_chars - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))
             .cast("double"))
    digits = (n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))
              .cast("double"))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "avg_word_len": F.when(
            n_words > 0,
            F.aggregate(words, F.lit(0.0),
                        lambda acc, w: acc + F.length(w)) / n_words
        ).otherwise(0.0),
        "punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(0.0),
        "digit_ratio": F.when(n_chars > 0, digits / n_chars).otherwise(0.0),
        "stopword_ratio": F.when(n_words > 0, n_stop / n_words).otherwise(0.0),
        "unique_word_ratio": F.when(
            n_words > 0,
            F.size(F.array_distinct(words)).cast("double") / n_words
        ).otherwise(0.0),
    }


def quality_score(c: Column,
                  metrics: dict[str, Column] | None = None) -> Column:
    """Composite [0,1] quality score: rewards mid-range length, lexical
    diversity and stopword presence; penalizes punctuation/digit soup.

    Pass precomputed ``metrics`` (from :func:`quality_metrics`) when the
    caller also projects them — the ratio subtrees (splits, regex
    strips, higher-order aggregates) are built once instead of twice."""
    m = metrics if metrics is not None else quality_metrics(c)
    length_score = F.least(m["n_words"].cast("double") / 100.0, F.lit(1.0))
    diversity = m["unique_word_ratio"]
    stopness = F.least(m["stopword_ratio"] * 4, F.lit(1.0))
    noise = F.greatest(F.lit(0.0),
                       F.lit(1.0) - m["punct_ratio"] * 5 - m["digit_ratio"] * 5)
    return (length_score * 0.25 + diversity * 0.25
            + stopness * 0.25 + noise * 0.25)


# --------------------------------------------------------------------------
# PII scrubbing (training-data pipeline surface; beyond the reference)

# Deliberately conservative patterns: pretraining scrubbers prefer
# false positives on these formats over leaks.  All JVM-side regex,
# RE2-compatible so the DuckDB oracles run the identical patterns.
# Dict order IS redaction order: ipv4 before phone, so a dotted quad
# is never partially consumed as a separator-less phone number; email
# first, so phone/SSN digit runs never bite into an address.
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # Anchor variants because RE2 (the DuckDB oracle engine) has no
    # lookbehind: a '+' country code, a '(' area code, or a \b before
    # a bare digit run — so '(415) 555-1234' and '+1-415...' match
    # from their first character (no un-redacted '('/'+' remnants),
    # unseparated 10-digit runs match, and the \b-anchored branch can
    # never start mid-digit-run.  The final alternative (separators
    # REQUIRED, no word-boundary anchors) recovers letter-adjacent
    # separated numbers like 'id415-555-1234' that \b rejects —
    # prefer a false positive over a leak.
    "phone": (r"(?:\+\d{1,2}[-. ]?|\b\d{1,2}[-. ])?"
              r"(?:\(\d{3}\)|\b\d{3})[-. ]?\d{3}[-. ]?\d{4}\b"
              r"|\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"),
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(c: Column) -> dict[str, Column]:
    """Per-kind PII match counts — the cheap audit pass you run on a
    corpus before deciding to scrub it."""
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        for kind, pat in _PII_PATTERNS.items()
    }


def redact_pii(c: Column, token: str = "[{kind}]") -> Column:
    """Replace each PII match with a typed placeholder (``[email]``,
    ``[phone]``, …) — chained ``regexp_replace``, whole-stage codegen,
    no UDF.  Redaction follows ``_PII_PATTERNS`` order (email, ipv4,
    phone, ssn) — see the ordering rationale on the pattern table."""
    out = c
    for kind, pat in _PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, token.format(kind=kind))
    return out


# --------------------------------------------------------------------------
# Gated real-library kernels (import-try; hermetic fallbacks above)


def tiktoken_count_udf(encoding: str = "cl100k_base"):
    """F10: exact BPE token counts via tiktoken
    (day_10/chunkers/token_chunker.py:56-58).  Raises ImportError when
    the library is absent — ``token_counts`` is the hermetic fallback."""
    import importlib.util

    if importlib.util.find_spec("tiktoken") is None:
        raise ImportError("tiktoken not installed; use token_counts()")

    from typing import Iterator

    @F.pandas_udf(T.LongType())
    def count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import tiktoken

        enc = tiktoken.get_encoding(encoding)   # once per worker
        for batch in batches:
            yield batch.map(lambda t: len(enc.encode(t or "")))

    return count


def nltk_sentences_udf():
    """F9: NLTK ``sent_tokenize``
    (day_10/chunkers/sentence_chunker.py:57-127).  Raises ImportError
    when absent — the ``[.!?]\\s+`` regex split in
    ``operators.chunking`` is the fallback path."""
    import importlib.util

    if importlib.util.find_spec("nltk") is None:
        raise ImportError("nltk not installed; use the regex sentence split")

    from typing import Iterator

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def split(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from nltk.tokenize import sent_tokenize

        for batch in batches:
            yield batch.map(lambda t: sent_tokenize(t or ""))

    return split


def pdf_extract_udf():
    """S7: per-page PDF text extraction over binaryFile content
    (day_15/main.py:69-79, day_10/utils/text_processor.py:290-309).
    Raises ImportError when PyPDF2 is absent."""
    import importlib.util

    if importlib.util.find_spec("PyPDF2") is None:
        raise ImportError("PyPDF2 not installed; PDF extraction unavailable")

    import io
    from typing import Iterator

    @F.pandas_udf(T.StringType())
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import PyPDF2

        def one(data: bytes) -> str:
            reader = PyPDF2.PdfReader(io.BytesIO(data))
            return "\n".join(page.extract_text() or "" for page in reader.pages)

        for batch in batches:
            yield batch.map(one)

    return extract


# --------------------------------------------------------------------------
# Token counting

_BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_counts(c: Column) -> dict[str, Column]:
    """Whitespace tokens, a BPE-ish regex token count (letter runs,
    single digits, punctuation marks — an upper-ish bound on subword
    count), and the chars/4 heuristic."""
    return {
        "ws_tokens": F.size(F.filter(F.split(c, r"\s+"), lambda w: w != ""))
                      .cast("long"),
        "regex_tokens": F.size(F.regexp_extract_all(c, F.lit(_BPE_ISH_PATTERN), 0))
                         .cast("long"),
        "approx_bpe_tokens": F.ceil(F.length(c) / 4).cast("long"),
    }
