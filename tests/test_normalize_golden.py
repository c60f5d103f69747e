"""Golden I/O tests ported verbatim from the reference test classes.

- NameNormalizer assertions: /root/reference/src/test/java/com/loantrading/
  matching/engine/NameNormalizerTest.java:17-88
- CharacterNormalizer assertions: /root/reference/src/test/java/com/loantrading/
  matching/extraction/CharacterNormalizerTest.java:17-72

These pin Java<->Python regex/transliteration fidelity (SURVEY.md §5.2.1).
No SparkSession needed — the kernels are pure pandas.
"""

import pandas as pd
import pytest

from entity_matching_spark.functions.normalize import (
    clean_entity_name,
    dupdet_normalize_name,
    extract_dba_components,
    normalize_fund_manager,
    normalize_name,
    normalize_text,
)


# --- scalar conveniences over the pandas kernels ----------------------------

def _scalar(fn, value, **kw):
    return fn(pd.Series([value]), **kw).iloc[0]


def normalize_text_scalar(value, **kw) -> str:
    return _scalar(normalize_text, value, **kw)


def normalize_name_scalar(value) -> str:
    return _scalar(normalize_name, value)


def normalize_fund_manager_scalar(value) -> str:
    return _scalar(normalize_fund_manager, value)


def clean_entity_name_scalar(value):
    return _scalar(clean_entity_name, value)


def extract_dba_scalar(value):
    df = extract_dba_components(pd.Series([value]))
    return df["legal_name"].iloc[0], df["trade_name"].iloc[0]


# --- NameNormalizerTest.java ------------------------------------------------

class TestNameNormalizerGolden:
    # :17-24 — corporate forms
    @pytest.mark.parametrize("raw,expected", [
        ("Global Tech Inc.", "global technology"),
        ("Creative Solutions, LLC", "creative solutions"),
        ("International Trade Co.", "international trade"),
        ("ACME Holdings PLC", "acme"),
    ])
    def test_remove_corporate_forms(self, raw, expected):
        assert normalize_name_scalar(raw) == expected

    # :26-32 — abbreviations
    @pytest.mark.parametrize("raw,expected", [
        ("Intl Business Machines", "international business machines"),
        ("Natl Svcs", "national services"),
        ("Fin Grp", "financial group"),
    ])
    def test_expand_abbreviations(self, raw, expected):
        assert normalize_name_scalar(raw) == expected

    # :34-40 — special characters and spacing
    @pytest.mark.parametrize("raw,expected", [
        ("O'Connor & Associates", "o'connor associates"),
        ("Alpha-Beta   Solutions", "alpha-beta solutions"),
        ("Test Name with numbers 123!@#", "test name numbers 123"),
    ])
    def test_special_characters_and_spacing(self, raw, expected):
        assert normalize_name_scalar(raw) == expected

    # :42-47 — multi-transform
    @pytest.mark.parametrize("raw,expected", [
        ("Apex Financial Services, Ltd. (FinSvcs)", "apex financial services finsvcs"),
        ("Intl. Tech Industries Inc", "international technology"),
    ])
    def test_complex_normalization(self, raw, expected):
        assert normalize_name_scalar(raw) == expected

    # :49-61 — DBA extraction
    def test_extract_dba(self):
        legal, trade = extract_dba_scalar("Real Company Inc. d/b/a Fake Company")
        assert legal == "Real Company Inc."
        assert trade == "Fake Company"

        legal2, trade2 = extract_dba_scalar("Another Corp DBA Awesome Services")
        assert legal2 == "Another Corp"
        assert trade2 == "Awesome Services"

    # :63-70 — no DBA
    def test_no_dba(self):
        legal, trade = extract_dba_scalar("Just A Regular Company Name")
        assert legal == "Just A Regular Company Name"
        assert trade is None

    # :72-79 — Unicode / diacritics
    @pytest.mark.parametrize("raw,expected", [
        ("Société Générale", "societe generale"),
        ("Münchener Rück", "munchener ruck"),
        ("Nestlé", "nestle"),
        ("François-Philippe", "francois-philippe"),
    ])
    def test_unicode_normalization(self, raw, expected):
        assert normalize_name_scalar(raw) == expected

    # :81-88 — smart punctuation
    @pytest.mark.parametrize("raw,expected", [
        ("O’Malley’s", "o'malley's"),
        ("“Test”", "test"),
        ("Alpha—Beta", "alpha-beta"),
        ("Gamma–Delta", "gamma-delta"),
    ])
    def test_smart_punctuation(self, raw, expected):
        assert normalize_name_scalar(raw) == expected


# --- CharacterNormalizerTest.java --------------------------------------------

class TestCharacterNormalizerGolden:
    # :17-22 — smart quotes
    def test_smart_quotes(self):
        assert normalize_text_scalar("“Hello”") == '"Hello"'
        assert normalize_text_scalar("‘Quote’") == "'Quote'"

    # :24-29 — dashes
    def test_dashes(self):
        assert normalize_text_scalar("long—running") == "long-running"
        assert normalize_text_scalar("a–b") == "a-b"

    # :31-39 — OCR fixes (rn->m unconditional)
    @pytest.mark.parametrize("raw,expected", [
        ("modern", "modem"),
        ("l0", "10"),
        ("O2", "02"),
        ("2O", "20"),
        ("2l", "21"),
    ])
    def test_ocr_errors(self, raw, expected):
        assert normalize_text_scalar(raw) == expected

    # :41-46 — whitespace
    def test_whitespace(self):
        assert normalize_text_scalar("a b c") == "a b c"
        assert normalize_text_scalar("d  e\t f") == "d e f"

    # :48-54 — entity-name cleaning
    def test_clean_entity_name(self):
        assert clean_entity_name_scalar("Clean Name [some note]") == "Clean Name"
        assert clean_entity_name_scalar("Another Name (extra info)") == "Another Name"
        assert clean_entity_name_scalar('"Quoted Name"') == "Quoted Name"

    # :56-63 — null / empty
    def test_null_and_empty(self):
        assert normalize_text_scalar(None) == ""
        assert normalize_text_scalar("") == ""
        assert clean_entity_name_scalar(None) is None
        assert clean_entity_name_scalar("") == ""

    # :65-72 — diacritics
    @pytest.mark.parametrize("raw,expected", [
        ("café", "cafe"),
        ("über", "uber"),
        ("español", "espanol"),
        ("françois", "francois"),
    ])
    def test_diacritics(self, raw, expected):
        assert normalize_text_scalar(raw) == expected


# --- graft-specific fidelity pins ---------------------------------------------

class TestFidelityPins:
    def test_fund_manager_alias_exact(self):
        # NameNormalizer.java:150-154 — exact alias lookup after normalization
        assert normalize_fund_manager_scalar("GSAM") == "goldman sachs asset management"
        assert normalize_fund_manager_scalar("PIMCO") == "pacific investment management company"

    def test_fund_manager_containment(self):
        # NameNormalizer.java:156-162 — bidirectional containment vs alias full
        # names. D6 strips 'asset'/'management' as corporate forms first, so
        # "Goldman Sachs Asset Management Intl" -> "goldman sachs international",
        # which contains alias value "goldman sachs" (first hit in source order).
        assert (
            normalize_fund_manager_scalar("Goldman Sachs Asset Management Intl")
            == "goldman sachs"
        )
        # Exact-equality containment hit:
        assert normalize_fund_manager_scalar("JP Morgan") == "jp morgan"

    def test_fund_manager_passthrough(self):
        assert normalize_fund_manager_scalar("Quiet River Advisors") == "quiet river"

    def test_dupdet_normalization_keeps_corporate_forms(self):
        # DuplicateDetector.java:161-166 — unlike D6, 'inc' survives
        out = dupdet_normalize_name(pd.Series(["Acme Holdings, Inc."]))
        assert out.iloc[0] == "acme holdings inc"

    def test_newline_glue_reference_mode(self):
        # CharacterNormalizer.java:61 strips \n (control range) with NO space —
        # the reference glues lines together (quirk Q5).
        assert normalize_text_scalar("Test Company LLC\nMEI: US12345678") == (
            "Test Company LLCMEI: US12345678"
        )

    def test_newline_preserving_pipeline_mode(self):
        out = normalize_text_scalar(
            "Legal Name:  Test   Co\nMEI: US12345678",
            preserve_newlines=True,
            ocr_punctuation=False,
        )
        assert out == "Legal Name: Test Co\nMEI: US12345678"

    def test_ocr_punctuation_breaks_emails_reference_mode(self):
        # CharacterNormalizer.java:120 inserts a space after '.' before letters
        # (quirk Q6): emails do not survive full reference normalization.
        assert normalize_text_scalar("contact@testcompany.com") == "contact@testcompany. com"
