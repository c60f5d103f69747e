"""Text / name normalization kernels (reference groups D1-D9).

Pure-pandas vectorized implementations (operate on ``pd.Series``), so they can
be unit-tested without a SparkSession and wrapped as Arrow-batched pandas UDFs
for distributed execution (no per-row Python at the Spark boundary).

Reference fidelity notes (citations into /root/reference):

- D1 ``normalize_unicode_punct``  — extraction/CharacterNormalizer.java:44-68.
  The Java code strips the control range [\\u0000-\\u001F], which INCLUDES
  ``\\n`` and ``\\t`` — newlines are deleted (lines glued with no separator)
  before the ``\\s+`` collapse. ``preserve_newlines=True`` (the pipeline's
  document mode, quirk Q5 in ``build_udfs``) exempts ``\\n`` so field extraction
  stays line-scoped; default False replicates the Java byte-for-byte.
- D2 ``fix_ocr_errors``           — CharacterNormalizer.java:74-84,109-123.
  ``rn -> m`` is unconditional ("modern" -> "modem"), pinned by
  test/extraction/CharacterNormalizerTest.java:33-39. The punctuation pass
  inserts a space after ``.,;:!?`` before a letter, which breaks email
  addresses in document text (quirk Q6) — the pipeline's document mode
  (``build_udfs``) therefore skips the punctuation pass.
- D3 ``normalize_text``           — CharacterNormalizer.java:90-104 (D1 + D2).
- D5 ``clean_entity_name``        — CharacterNormalizer.java:128-147.
- D6 ``normalize_name``           — engine/NameNormalizer.java:108-137
  (7 ordered steps; NOTE: uses D1 only, never D2 — NameNormalizer.java:114).
- D7 ``normalize_fund_manager``   — NameNormalizer.java:142-165 (alias map +
  bidirectional containment, iterated in source order).
- D8 ``extract_dba_components``   — NameNormalizer.java:170-191.
- D9 ``dupdet_normalize_name``    — engine/DuplicateDetector.java:161-166
  (keeps corporate forms — deliberately different from D6).
"""

from __future__ import annotations

import re

import pandas as pd

from .lookups import ABBREVIATIONS, CORPORATE_FORMS, FUND_MANAGER_ALIASES

# ---------------------------------------------------------------------------
# Transliteration (ICU "Any-Latin; Latin-ASCII" approximation)
# ---------------------------------------------------------------------------
# NFKD + combining-mark strip handles all composed Latin diacritics (café,
# über, Société...). ICU additionally maps a handful of non-decomposable
# letters; we cover the common ones explicitly. Golden behavior pinned by
# test/extraction/CharacterNormalizerTest.java:66-72 and
# test/engine/NameNormalizerTest.java:73-88.
_SPECIAL_TRANSLIT = str.maketrans({
    "ß": "ss", "ẞ": "SS",
    "Æ": "AE", "æ": "ae", "Œ": "OE", "œ": "oe",
    "Ø": "O", "ø": "o", "Đ": "D", "đ": "d", "Ð": "D", "ð": "d",
    "Þ": "TH", "þ": "th", "Ł": "L", "ł": "l", "Ħ": "H", "ħ": "h",
    "ı": "i", "ĸ": "k", "ſ": "s", "Ŋ": "N", "ŋ": "n", "Ŧ": "T", "ŧ": "t",
})

_COMBINING_RE = (
    "[\\u0300-\\u036f\\u1ab0-\\u1aff\\u1dc0-\\u1dff\\u20d0-\\u20ff\\ufe20-\\ufe2f]"
)

# D1 replacement chain — CharacterNormalizer.java:53-58 (order preserved)
_D1_REPLACEMENTS = [
    ("[\u201c\u201d]", '"'),
    ("[\u2018\u2019]", "'"),
    ("[`\u00b4]", "'"),
    ("[\u2014\u2013]", "-"),
    ("[\u2012\u2015]", "-"),
    ("[\\u00A0\\u2000-\\u200B\\u202F\\u205F\\u3000]", " "),
]

# Control ranges — CharacterNormalizer.java:61-62. The second variant exempts
# \n (\u000A) for the line-preserving pipeline mode.
_CONTROL_RE = "[\\u0000-\\u001F\\u007F-\\u009F]"
_CONTROL_KEEP_NL_RE = "[\\u0000-\\u0009\\u000B-\\u001F\\u007F-\\u009F]"
_ZERO_WIDTH_RE = "[\\u200B-\\u200D\\uFEFF]"

# D2 OCR character fixes — CharacterNormalizer.java:77-81 (order preserved)
_D2_CHAR_FIXES = [
    (r"rn", "m"),
    (r"l(\d)", r"1\1"),
    (r"O(\d)", r"0\1"),
    (r"(\d)O", r"\g<1>0"),
    (r"(\d)l", r"\g<1>1"),
]

# D2 punctuation fixes — CharacterNormalizer.java:109-123 (order preserved)
_D2_PUNCT_FIXES = [
    (r"(\d)\.{2,}(\d)", r"\1,\2"),
    (r"\.{2,}", "."),
    (r",{2,}", ","),
    (r"-{2,}", "-"),
    (r"\s+([.,;:!?])", r"\1"),
    (r"([.,;:!?])([A-Za-z])", r"\1 \2"),
]

# D6 constants. Alternation result is order-independent for this token set
# (\b..\b anchors both ends); sorted longest-first for determinism.
_CORP_FORMS_RE = (
    r"\b(" + "|".join(sorted(CORPORATE_FORMS, key=len, reverse=True)) + r")\b"
)
_ARTICLES_RE = r"\b(the|a|an|and|of|in|for|by|with|from)\b"
_ABBREV_RES = [(rf"\b{k}\b", v) for k, v in ABBREVIATIONS.items()]

# D8 DBA split markers — NameNormalizer.java:176 (order preserved)
_DBA_MARKERS = ["DBA", "d/b/a", "d.b.a.", "trading as", "t/a"]
_DBA_RES = [re.compile(r"(?i)(.+?)\s+" + re.escape(m) + r"\s+(.+)") for m in _DBA_MARKERS]


def _as_str_series(s: pd.Series) -> pd.Series:
    """Nulls -> '' (the reference maps null -> empty in normalize paths)."""
    return s.astype("object").fillna("").astype(str)


def _apply_chain(s: pd.Series, chain) -> pd.Series:
    for pat, repl in chain:
        s = s.str.replace(pat, repl, regex=True)
    return s


def transliterate(s: pd.Series) -> pd.Series:
    """ICU 'Any-Latin; Latin-ASCII' approximation: specials + NFKD fold."""
    s = _as_str_series(s)
    s = s.map(lambda x: x.translate(_SPECIAL_TRANSLIT))
    s = s.str.normalize("NFKD").str.replace(_COMBINING_RE, "", regex=True)
    return s


def normalize_unicode_punct(s: pd.Series, preserve_newlines: bool = False) -> pd.Series:
    """D1 — CharacterNormalizer.normalizeUnicodeAndPunctuation (java:44-68)."""
    out = transliterate(s)
    out = _apply_chain(out, _D1_REPLACEMENTS)
    if preserve_newlines:
        out = out.str.replace(_CONTROL_KEEP_NL_RE, "", regex=True)
        out = out.str.replace(_ZERO_WIDTH_RE, "", regex=True)
        out = out.str.replace(r"[^\S\n]+", " ", regex=True)
        out = out.str.replace(r"\s*\n\s*", "\n", regex=True)
    else:
        out = out.str.replace(_CONTROL_RE, "", regex=True)
        out = out.str.replace(_ZERO_WIDTH_RE, "", regex=True)
        out = out.str.replace(r"\s+", " ", regex=True)
    return out.str.strip()


def fix_ocr_errors(s: pd.Series, punctuation: bool = True) -> pd.Series:
    """D2 — CharacterNormalizer.fixOcrErrors (java:74-84).

    ``punctuation=False`` skips fixOCRPunctuation (java:109-123) — used by the
    document pipeline because the space-after-punctuation rule breaks email
    addresses (quirk Q6, see ``build_udfs``).
    """
    out = _apply_chain(_as_str_series(s), _D2_CHAR_FIXES)
    if punctuation:
        out = _apply_chain(out, _D2_PUNCT_FIXES)
    return out


def normalize_text(
    s: pd.Series,
    preserve_newlines: bool = False,
    ocr_punctuation: bool = True,
) -> pd.Series:
    """D3 — CharacterNormalizer.normalize (java:90-104): D1 then D2, trim.

    Defaults replicate the reference exactly; the document pipeline calls this
    with ``preserve_newlines=True, ocr_punctuation=False`` (quirks Q5/Q6).
    ``preserve_newlines=True, ocr_punctuation=True`` applies the reference
    punctuation chain, whose whitespace-before-punctuation rule also removes
    a newline ahead of ``.,;:!?``.
    """
    out = normalize_unicode_punct(s, preserve_newlines=preserve_newlines)
    out = fix_ocr_errors(out, punctuation=ocr_punctuation)
    return out.str.strip()


def clean_entity_name(s: pd.Series) -> pd.Series:
    """D5 — CharacterNormalizer.cleanEntityName (java:128-147). null -> null."""
    mask = s.isna()
    out = normalize_text(s)
    out = out.str.replace(r"\[[^\]]*\]", "", regex=True)
    out = out.str.replace(r"\([^\)]*\)", "", regex=True)
    out = out.str.replace(r"[\"']", "", regex=True)
    out = out.str.replace(r"\s+", " ", regex=True).str.strip()
    out = out.astype("object")
    out[mask] = None
    return out


def normalize_name(s: pd.Series) -> pd.Series:
    """D6 — NameNormalizer.normalize (java:108-137), 7 ordered steps.

    Uses D1 only — deliberately NOT the OCR fixes (NameNormalizer.java:114).
    """
    out = normalize_unicode_punct(s)              # 1. D1
    out = out.str.lower()                          # 2. lowercase
    out = out.str.replace(r"[^a-z0-9\s\-']", " ", regex=True)  # 3. charset filter
    for pat, repl in _ABBREV_RES:                  # 4. abbreviations
        out = out.str.replace(pat, repl, regex=True)
    out = out.str.replace(_CORP_FORMS_RE, "", regex=True)      # 5. corporate forms
    out = out.str.replace(_ARTICLES_RE, "", regex=True)        # 6. articles
    out = out.str.replace(r"\s+", " ", regex=True).str.strip() # 7. cleanup
    return out


# Alias full names in source order — the containment scan returns the first
# hit in map-iteration order (NameNormalizer.java:157-162). Java HashMap order
# is opaque; we pin insertion (source) order and document the choice.
_ALIAS_FULL_NAMES = list(FUND_MANAGER_ALIASES.values())


def _fund_manager_resolve(normalized: str) -> str:
    alias = FUND_MANAGER_ALIASES.get(normalized)
    if alias is not None:
        return alias
    for full in _ALIAS_FULL_NAMES:
        # NOTE: ''.contains(x) semantics — an empty normalized name matches the
        # first alias (fullName.contains("") is true in Java); replicated.
        if full in normalized or normalized in full:
            return full
    return normalized


def normalize_fund_manager(s: pd.Series) -> pd.Series:
    """D7 — NameNormalizer.normalizeFundManager (java:142-165)."""
    return normalize_name(s).map(_fund_manager_resolve)


def extract_dba_components(s: pd.Series) -> pd.DataFrame:
    """D8 — NameNormalizer.extractDBA (java:170-191).

    Returns a DataFrame with columns ``legal_name`` / ``trade_name``; when no
    DBA marker is present legal_name = input, trade_name = null.
    """

    def split_one(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return (None, None)
        for rx in _DBA_RES:
            m = rx.search(v)
            if m:
                return (m.group(1).strip(), m.group(2).strip())
        return (v, None)

    parts = s.map(split_one)
    return pd.DataFrame(
        {"legal_name": parts.map(lambda t: t[0]), "trade_name": parts.map(lambda t: t[1])},
        index=s.index,
    )


def dupdet_normalize_name(s: pd.Series) -> pd.Series:
    """D9 — DuplicateDetector.normalizeName (java:161-166).

    Keeps corporate forms (different from D6); expressible natively in Spark as
    ``trim(regexp_replace(regexp_replace(lower(x), '[^a-z0-9\\s]', ' '), '\\s+', ' '))``
    — this pandas twin exists for unit tests and the pandas-only call path.
    """
    out = _as_str_series(s).str.lower()
    out = out.str.replace(r"[^a-z0-9\s]", " ", regex=True)
    out = out.str.replace(r"\s+", " ", regex=True).str.strip()
    return out


# ---------------------------------------------------------------------------
# Spark pandas-UDF wrappers (built lazily so this module imports without Spark)
# ---------------------------------------------------------------------------

def build_udfs():
    """Return a dict of Arrow-batched pandas UDFs over these kernels."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def norm_doc_text(s: pd.Series) -> pd.Series:
        # Q5/Q6: keep line structure (the reference's collapse of every
        # whitespace incl. newlines, extraction/CharacterNormalizer.java:65,
        # makes the line-anchored patterns of extraction/FieldParser.java:45-72
        # capture to end-of-document) and skip the OCR punctuation pass (it
        # breaks email addresses). Names within a line keep the exact chain.
        return normalize_text(s, preserve_newlines=True, ocr_punctuation=False)

    @pandas_udf(StringType())
    def norm_name(s: pd.Series) -> pd.Series:
        return normalize_name(s)

    @pandas_udf(StringType())
    def norm_fund_manager(s: pd.Series) -> pd.Series:
        return normalize_fund_manager(s)

    @pandas_udf(StringType())
    def clean_name(s: pd.Series) -> pd.Series:
        return clean_entity_name(s)

    return {
        "norm_doc_text": norm_doc_text,
        "norm_name": norm_name,
        "norm_fund_manager": norm_fund_manager,
        "clean_name": clean_name,
    }
