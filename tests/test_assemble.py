"""S1 assembly + extraction tests: per-turn invariant, field extraction,
type detection, and the reference's own E2E smoke record (test_adf_1.txt)."""

import pyspark.sql.functions as F
import pytest

from entity_matching_spark.operators.assemble import (
    assemble_conversations,
    build_records,
    explode_turns,
)


class TestAssembly:
    def test_per_turn_invariant(self, spark, transcripts_df):
        """E2 (FIXTURES.md §5.1): exploding assembled turns reproduces the
        source (conv_id, turn_idx, text) exactly."""
        conv = assemble_conversations(transcripts_df)
        round_trip = explode_turns(conv)
        src = transcripts_df.select("conv_id", "turn_idx", "text")
        missing = src.exceptAll(round_trip).count()
        extra = round_trip.exceptAll(src).count()
        assert missing == 0 and extra == 0

    def test_turn_order_stable(self, spark, transcripts_df):
        conv = assemble_conversations(transcripts_df)
        bad = conv.select(
            F.exists(
                F.zip_with(
                    "turns",
                    F.sequence(F.lit(0), F.size("turns") - 1),
                    lambda t, i: t["turn_idx"] != i,
                ),
                lambda x: x,
            ).alias("out_of_order")
        ).filter("out_of_order").count()
        assert bad == 0


class TestExtraction:
    def test_reference_smoke_record(self, spark):
        """The reference's own test resource content (R/test_adf_1.txt),
        asserted field-by-field (FIXTURES.md §4)."""
        rows = [
            ("smoke1", 0, "assistant", "Legal Name: Test Company LLC", None, None),
            ("smoke1", 1, "tool", "MEI: US12345678\nEIN: 12-3456789", "lookup_mei", None),
            ("smoke1", 2, "assistant", "Email: contact@testcompany.com\nCountry: US", None, None),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        rec = build_records(df).collect()[0]
        assert rec.legal_name == "Test Company LLC"
        assert rec.mei == "US12345678"
        assert rec.ein == "12-3456789"
        assert rec.email_domain == "testcompany.com"
        assert rec.country_code == "US"       # from MEI prefix
        assert rec.tax_country_code == "US"   # pattern hit fills tax country
        # 'company' is NOT in STANDALONE_INDICATORS (EntityTypeDetector.java:23-27)
        # and no fund signals fire -> UNKNOWN
        assert rec.entity_type == "UNKNOWN"
        assert rec.extraction_confidence == pytest.approx(
            (0.5 + 0.15 + 0.10 + 0.08 + 0.05 + 0.02)
            * ((0.95 + 0.85 + 0.8 + 0.75 + 0.0) / 5),
            abs=1e-9,
        )

    def test_ein_hyphen_insertion(self, spark):
        df = spark.createDataFrame(
            [("c1", 0, "tool", "Tax ID: 123456789", "lookup_mei", None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.ein == "12-3456789"

    def test_invalid_mei_country_rejected(self, spark):
        df = spark.createDataFrame(
            [("c1", 0, "tool", "MEI: XX12345678", "lookup_mei", None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.mei is None
        assert rec.mei_conf == pytest.approx(0.5)

    def test_service_provider_domains_filtered(self, spark):
        text = "Contacts: a@pwc.com, b@pwc.com, c@acmefund.com, d@acmefund.com"
        df = spark.createDataFrame(
            [("c1", 0, "assistant", text, None, None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.email_domain == "acmefund.com"
        assert len(rec.contact_emails) == 4

    def test_ocr_noise_converges(self, spark):
        # P5: 'O' next to digits folds back to 0 via D2 before extraction
        df = spark.createDataFrame(
            [("c1", 0, "tool", "MEI: USO2345678", "lookup_mei", None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.mei == "US02345678"

    def test_corpus_extraction_completeness(self, spark, records_df, small_corpus):
        # every synthetic conversation carries a Legal Name line -> extracted
        n = records_df.count()
        _, labels = small_corpus
        assert n > 0
        assert records_df.filter(F.col("legal_name").isNull()).count() == 0
        assert records_df.filter(F.col("norm_legal_name") == "").count() == 0

    def test_tax_form_extraction(self, spark, records_df):
        with_tax = records_df.filter(F.col("has_tax"))
        assert with_tax.count() > 0
        # tax turns carry Entity Name + TIN lines
        assert with_tax.filter(F.col("taxform_legal_name").isNull()).count() == 0
        bad_ein = with_tax.filter(
            F.col("ein").isNotNull() & (F.col("taxform_ein") != F.col("ein"))
        ).count()
        assert bad_ein == 0


class TestEntityType:
    def test_fund_manager_field_wins(self, spark):
        df = spark.createDataFrame(
            [("c1", 0, "assistant", "Legal Name: Plain Widgets Inc.\nFund Manager: GSAM", None, None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.entity_type == "MANAGED_FUND"

    def test_unknown_when_no_signals(self, spark):
        df = spark.createDataFrame(
            [("c1", 0, "assistant", "Legal Name: Plain Widgets", None, None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        rec = build_records(df).collect()[0]
        assert rec.entity_type == "UNKNOWN"


class TestNativeNormalization:
    def test_native_handles_unicode(self, spark):
        from entity_matching_spark.functions.normalize import build_udfs

        udfs = build_udfs()
        rows = [
            ("Société Générale — café “quote”",),
            ("modern l0 O2 text",),
            ("tab\there\nline two",),
            (None,),
        ]
        df = spark.createDataFrame(rows, "text string")
        got = df.select(udfs["norm_doc_text"]("text").alias("out")).collect()
        assert got[0]["out"] == 'Societe Generale - cafe "quote"'
        assert got[1]["out"] == "modem 10 02 text"
        # \t is in the reference's stripped control range (quirk noted in
        # normalize.py D1): deleted, not collapsed to a space
        assert got[2]["out"] == "tabhere\nline two"


class TestOcrConfidence:
    """A5 — OCRProcessor.estimateConfidence (OCRProcessor.java:93-124) as
    native columns; golden values hand-computed from the Java arithmetic."""

    def _run(self, spark, texts):
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.assemble import ocr_confidence

        df = spark.createDataFrame([(t,) for t in texts], "text string")
        return [
            r["c"]
            for r in df.select(F.round(ocr_confidence(F.col("text")), 6).alias("c")).collect()
        ]

    def test_golden_values(self, spark):
        got = self._run(spark, [
            "Hello World 123",          # 3/3 valid words -> 0.5 + 0.4
            "contact a@b.co now",       # 2/3 valid + email bonus (single line)
            "hi\ncontact a@b.co",       # newline defeats .*email.* full-match
            None,                       # null -> 0.0
            "   ",                      # blank -> 0.0
            " abc",                     # Java leading-"" quirk: 1/2 valid
            "abc ",                     # Java trailing empties removed: 1/1
        ])
        assert got[0] == 0.9
        assert got[1] == round(0.5 + 0.4 * 2 / 3 + 0.1, 6)
        assert got[2] == round(0.5 + 0.4 * 2 / 3, 6)
        assert got[3] == 0.0
        assert got[4] == 0.0
        assert got[5] == 0.7
        assert got[6] == 0.9

    def test_artifacts_clamp_to_floor(self, spark):
        # "ab ?? cd" with 2 artifact chars: ratio 2/8 -> -2.5 dominates -> 0.1
        got = self._run(spark, ["ab □□ cd"])
        assert got[0] == 0.1

    def test_wired_into_extraction_confidence(self, spark):
        import pyspark.sql.functions as F

        from entity_matching_spark.config import MatchConfig
        from entity_matching_spark.operators.assemble import extract_fields

        df = spark.createDataFrame(
            [("MEI: US12345678 Legal Name: Acme Fund LLC □□□□",)],
            "norm_text string",
        )
        base = extract_fields(df, "norm_text", config=MatchConfig()).collect()[0]
        ocr = extract_fields(
            df, "norm_text", config=MatchConfig(ocr_text_mode=True)
        ).collect()[0]
        assert 0.0 < base["ocr_confidence"] < 1.0
        assert abs(
            ocr["extraction_confidence"]
            - base["extraction_confidence"] * base["ocr_confidence"]
        ) < 1e-9
