"""S1 — record assembly from transcripts + field extraction + type detection.

Replaces the reference's document->text->ExtractedEntity stage (groups A, C,
E, F, G of SURVEY.md §2) with set-oriented DataFrame transforms:

- E1: window-ordered turn concatenation. ``array_sort(collect_list(struct))``
  sorts by the leading ``turn_idx`` field — deterministic under retries,
  unlike collect_list over a window (SURVEY.md §2 group E).
- C1-C11: field extraction as native ``regexp_extract`` columns. Spark compiles
  these with the JVM's java.util.regex — the reference's exact patterns
  (extraction/FieldParser.java:20-72) run byte-identical, no porting risk.
- F1/F2: country + service-provider validation.
- G1/G2: entity-type detection as pure column arithmetic.

Python appears only in two Arrow pandas UDFs (document normalization and
name cleanup) and one UDF for primary-email-domain selection.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from ..config import DEFAULT_CONFIG, MatchConfig
from ..functions import lookups as L
from ..functions.normalize import build_udfs

# --- reference regex patterns, verbatim (FieldParser.java:20-72) -------------
MEI_RE = r"(?i)(?:MEI|Member\s*Entity\s*ID|Member\s*ID)[:\s]*([A-Z]{2}\d{8})\b"
LEI_RE = r"(?i)(?:LEI|Legal\s*Entity\s*ID)[:\s]*([A-Z0-9]{20})\b"
EIN_RE = r"(?i)(?:EIN|TIN|Tax\s*ID|Federal\s*Tax\s*ID)[:\s]*(\d{2}-?\d{7})\b"
DD_RE = r"(?i)(?:Debt\s*Domain\s*ID|DD\s*ID)[:\s]*([A-Z0-9]{6,12})\b"
EMAIL_RE = r"([a-zA-Z0-9][a-zA-Z0-9._%+-]*@[a-zA-Z0-9][a-zA-Z0-9.-]*\.[a-zA-Z]{2,})"
LEGAL_RES = [
    r"(?i)(?:Legal\s+Name|Entity\s+Name|Lender\s+Name|Name\s+of\s+Lender)[:\s]+([^\n]+)",
    r"(?i)(?:Participant|Borrower|Obligor)\s+Name[:\s]+([^\n]+)",
    r"(?m)^([A-Z][A-Za-z\s&,.-]+(?:Inc|LLC|Ltd|LP|LLP|Corp|Company|PLC|SA|GmbH|BV|NV))\.?",
]
FM_RES = [
    r"(?i)(?:Fund\s+Manager|Investment\s+Manager|Advisor|Asset\s+Manager)[:\s]+([^\n]+)",
    r"(?i)(?:Managed\s+by|Advised\s+by)[:\s]+([^\n]+)",
]
DBA_RE = r"(?i)(?:DBA|d/b/a|Doing\s+Business\s+As|Trade\s+Name|Trading\s+As)[:\s]+([^\n]+)"
COUNTRY_RES = [
    r"(?i)(?:Country|Jurisdiction|Incorporated\s+in)[:\s]+([A-Z]{2,3}|[A-Za-z\s]+)",
    r"(?im)(?:Address|Located\s+in)[:\s]+[^,]+,\s*([A-Z]{2,3}|[A-Za-z\s]+)$",
]


def _x(col, pattern):
    """regexp_extract with '' -> null."""
    return F.nullif(F.regexp_extract(col, pattern, 1), F.lit(""))


# Java-'.' (no DOTALL) line-terminator class, used to replicate
# String.matches(".*<email>.*") exactly (see ocr_confidence)
_JAVA_DOT_NEG = "[^\\n\\r\\x85\\u2028\\u2029]"


def ocr_confidence(col) -> F.Column:
    """A5 — OCR-confidence estimate (extraction/OCRProcessor.java:93-124),
    as pure native columns (whole-stage codegen, no UDF):

    base 0.5 + 0.4 * validWordRatio - 10 * artifactRatio
    (+0.1 when the text full-matches ``.*<email>.*`` — Java ``matches()``
    without DOTALL, so any line terminator anywhere defeats the bonus; the
    anchored pattern below replicates that quirk bit-for-bit), clamped to
    [0.1, 1.0]; null/blank text -> 0.0.
    """
    txt = col
    n = F.length(txt)
    artifacts = n - F.length(F.regexp_replace(txt, "[�□○■]", ""))
    # Java text.split("\\s+"): a leading separator yields a leading "" element
    # but TRAILING empty strings are removed — Spark's split keeps them, so
    # trailing whitespace is stripped first to replicate Java exactly
    words = F.split(F.regexp_replace(txt, r"\s+$", ""), r"\s+")
    n_words = F.size(words)
    valid = F.size(F.filter(words, lambda w: w.rlike("^[a-zA-Z0-9]+$")))
    vratio = F.when(n_words > 0, valid / n_words).otherwise(F.lit(0.0))
    aratio = artifacts / n
    email_full = txt.rlike(
        rf"\A{_JAVA_DOT_NEG}*[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}{_JAVA_DOT_NEG}*\z"
    )
    conf = (
        F.lit(0.5) + 0.4 * vratio - 10 * aratio
        + F.when(txt.contains("@") & email_full, 0.1).otherwise(0.0)
    )
    clamped = F.greatest(F.lit(0.1), F.least(F.lit(1.0), conf))
    return F.when(txt.isNull() | (F.trim(txt) == ""), F.lit(0.0)).otherwise(clamped)


def _coalesce_patterns(col, patterns):
    """First-matching-pattern precedence (FieldParser iterates + breaks)."""
    return F.coalesce(*[_x(col, p) for p in patterns])


def assemble_conversations(transcripts: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """E1: one row per conversation with stable turn-ordered text.

    Returns (conv_id, turns, text, tax_text, n_turns). ``turns`` is kept so the
    per-turn equality invariant (E2) is checkable by exploding.
    """
    # Only (turn_idx, text, tool) ride the collect_list shuffle — role/ts are
    # never read downstream, and this aggregation is the pipeline's biggest
    # shuffle, so every dropped byte is paid once per turn. Sort order stays
    # (turn_idx, then text for duplicate-idx ties): identical concat output.
    turn_struct = F.struct("turn_idx", "text", "tool")
    grouped = transcripts.groupBy("conv_id").agg(
        F.array_sort(F.collect_list(turn_struct)).alias("turns")
    )
    text = F.concat_ws("\n", F.transform("turns", lambda t: t["text"]))
    tax_turns = F.filter("turns", lambda t: t["tool"] == F.lit("fetch_taxform"))
    tax_text = F.when(
        F.size(tax_turns) > 0,
        F.concat_ws("\n", F.transform(tax_turns, lambda t: t["text"])),
    )
    return grouped.select(
        "conv_id",
        "turns",
        text.alias("text"),
        tax_text.alias("tax_text"),
        F.size("turns").alias("n_turns"),
    )


def explode_turns(conversations: DataFrame) -> DataFrame:
    """E2 helper: reproduce (conv_id, turn_idx, text) for the invariant check."""
    t = conversations.select("conv_id", F.explode("turns").alias("t"))
    return t.select("conv_id", F.col("t.turn_idx").alias("turn_idx"), F.col("t.text").alias("text"))


def _country_normalize(col):
    """F1 normalizeCountry (CountryCodeValidator.java:93-107), native columns."""
    up = F.upper(F.trim(col))
    name_map = L.const(L.COUNTRY_NAME_TO_CODE)
    iso = (F.length(up) == 2) & F.array_contains(L.const(sorted(L.ISO_COUNTRY_CODES)), up)
    return F.when(col.isNull(), F.lit(None)).otherwise(
        F.when(iso, up).otherwise(F.coalesce(name_map[up], up))
    )


def _primary_domain_udf():
    """C6+F2: most frequent non-service-provider email domain.

    Implements ServiceProviderDetector (util/ServiceProviderDetector.java:58-115)
    + FieldParser.extractEmails counting (FieldParser.java:187-217). Ties break
    by (count desc, domain asc) — Java's HashMap makes ties arbitrary; we pin a
    deterministic order (documented deviation).
    """
    import re

    from pyspark.sql.functions import pandas_udf

    law_res = [re.compile(p) for p in L.LAW_FIRM_DOMAIN_PATTERNS]
    sp_exact = L.SERVICE_PROVIDER_DOMAINS
    sp_kw = L.SERVICE_PROVIDER_KEYWORDS

    def is_sp(domain: str) -> bool:
        d = domain.lower().strip()
        if d in sp_exact:
            return True
        if any(k in d for k in sp_kw):
            return True
        if any(rx.fullmatch(d) for rx in law_res):
            return True
        if "&" in d or "and" in d:
            parts = re.split(r"\.|&|and", d)
            if len(parts) >= 3:
                return True
        return False

    @pandas_udf(StringType())
    def primary_domain(emails: pd.Series) -> pd.Series:
        def pick(lst):
            if lst is None or len(lst) == 0:
                return None
            counts: dict[str, int] = {}
            for e in lst:
                dom = e[e.index("@") + 1 :]
                if not is_sp(dom):
                    counts[dom] = counts.get(dom, 0) + 1
            if not counts:
                return None
            return max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]

        return emails.map(pick)

    return primary_domain


def extract_fields(df: DataFrame, text_col: str, prefix: str = "",
                   config: MatchConfig | None = None) -> DataFrame:
    """C1-C11 over a (normalized) text column, emitting ``{prefix}field`` columns."""
    cfg = config or DEFAULT_CONFIG
    udfs = build_udfs()
    p = prefix
    t = F.col(text_col)

    # C1 cleanText OCR label fixes (FieldParser.java:119-129); the D3 normalize
    # half of cleanText is applied by the caller (normalize stage).
    cleaned = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, r"\bMEl\b", "MEI"), r"\bLEl\b", "LEI"),
        r"\bElN\b", "EIN",
    )
    df = df.withColumn(f"{p}_clean_text", cleaned)
    tc = F.col(f"{p}_clean_text")

    mei_raw = F.upper(_x(tc, MEI_RE))
    mei_cc_ok = F.array_contains(L.const(sorted(L.ISO_COUNTRY_CODES)), F.substring(mei_raw, 1, 2))
    ein_raw = _x(tc, EIN_RE)
    ein = F.when(
        ein_raw.contains("-"), ein_raw
    ).otherwise(F.concat(F.substring(ein_raw, 1, 2), F.lit("-"), F.substring(ein_raw, 3, 7)))

    emails = F.transform(
        F.regexp_extract_all(tc, F.lit(EMAIL_RE), 1), lambda e: F.lower(e)
    )

    out = df.select(
        "*",
        # C2 MEI: ISO-validate first two chars; invalid -> null, conf 0.5
        F.when(mei_cc_ok, mei_raw).alias(f"{p}mei"),
        F.when(mei_raw.isNull(), None)
        .when(mei_cc_ok, F.lit(0.95)).otherwise(F.lit(0.5)).alias(f"{p}mei_conf"),
        # C3 LEI (format [A-Z0-9]{20} enforced by the pattern itself)
        F.upper(_x(tc, LEI_RE)).alias(f"{p}lei"),
        # C4 EIN, hyphen inserted when missing
        ein.alias(f"{p}ein"),
        # C5 Debt Domain
        F.upper(_x(tc, DD_RE)).alias(f"{p}debt_domain_id"),
        # C7/C8/C9 names (first-match precedence + cleanEntityName)
        udfs["clean_name"](_coalesce_patterns(tc, LEGAL_RES)).alias(f"{p}legal_name"),
        udfs["clean_name"](_coalesce_patterns(tc, FM_RES)).alias(f"{p}fund_manager"),
        udfs["clean_name"](_x(tc, DBA_RE)).alias(f"{p}dba"),
        # C6 emails
        emails.alias(f"{p}contact_emails"),
        # C10 country pattern hit (first matching pattern)
        _country_normalize(_coalesce_patterns(tc, COUNTRY_RES)).alias(f"{p}_country_hit"),
    ).drop(f"{p}_clean_text")

    primary_domain = _primary_domain_udf()
    out = out.withColumn(f"{p}email_domain", primary_domain(F.col(f"{p}contact_emails")))

    # C10: MEI prefix wins; the pattern hit fills country (if unset) else tax country
    mei_col = F.col(f"{p}mei")
    hit = F.col(f"{p}_country_hit")
    out = out.select(
        "*",
        F.when(mei_col.isNotNull(), F.substring(mei_col, 1, 2)).otherwise(hit).alias(f"{p}country_code"),
        F.when(mei_col.isNotNull(), hit).alias(f"{p}tax_country_code"),
    ).drop(f"{p}_country_hit")

    # C11 extraction confidence: base 0.5 + weights, scaled by avg field conf
    # Country field-confidence is recorded only when the pattern (not the MEI
    # prefix) filled it — FieldParser.java:268-271; getOrDefault(...,0.0) at :323.
    country_fc = F.when(F.col(f"{p}mei").isNull(), F.lit(0.7)).otherwise(F.lit(0.0))
    conf_terms = [
        (F.col(f"{p}mei"), 0.15, F.col(f"{p}mei_conf")),
        (F.col(f"{p}lei"), 0.10, F.lit(0.9)),
        (F.col(f"{p}ein"), 0.10, F.lit(0.85)),
        (F.col(f"{p}legal_name"), 0.08, F.lit(0.8)),
        (F.col(f"{p}email_domain"), 0.05, F.lit(0.75)),
        (F.col(f"{p}country_code"), 0.02, country_fc),
    ]
    base = F.lit(0.5)
    for col, w, _ in conf_terms:
        base = base + F.when(col.isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
    cnt = sum(F.when(col.isNotNull(), 1).otherwise(0) for col, _, _ in conf_terms)
    csum = sum(
        F.when(col.isNotNull(), fc).otherwise(F.lit(0.0)) for col, _, fc in conf_terms
    )
    conf = F.when(cnt > 0, base * (csum / cnt)).otherwise(base)
    # A5: OCR-confidence estimate over the (normalized) text; multiplied into
    # extraction confidence only when the text source is OCR-derived
    # (MultiFormatDocumentExtractor.java:30-62 — ocrConfidence stays 1.0 for
    # born-digital text, which is what transcripts are)
    oc = ocr_confidence(t)
    if cfg.ocr_text_mode:
        conf = conf * oc
    return out.withColumns({
        f"{p}ocr_confidence": oc,
        f"{p}extraction_confidence": F.least(conf, F.lit(1.0)),
    })


def detect_entity_type(
    df: DataFrame, prefix: str = "", short_name_col: str | None = None
) -> DataFrame:
    """G1/G2 — EntityTypeDetector (detection/EntityTypeDetector.java:65-200).

    Signals as column expressions; aggregation sum(conf)/sqrt(count) per type,
    argmax, <0.5 -> UNKNOWN. Only one STANDALONE signal exists, so its
    aggregate is 0.65 when present.

    ``short_name_col`` enables the short-name signal (analyzeShortName,
    EntityTypeDetector.java:155-165: FM/_FM/_FM_/-FM-/FUND suffix or MGMT
    substring -> (MANAGED_FUND, 0.7)) — transcripts have no short name, but
    catalog records do (raw_fields["short_name"], :90-92).
    """
    p = prefix
    from ..functions.lookups import contains_any_expr as contains_any

    name_l = F.lower(F.coalesce(F.col(f"{p}legal_name"), F.lit("")))
    dom = F.coalesce(F.col(f"{p}email_domain"), F.lit(""))
    fm_present = F.col(f"{p}fund_manager").isNotNull() & (F.col(f"{p}fund_manager") != "")

    s_fm_field = F.when(fm_present, F.lit(0.95))
    s_name_mf = F.when(contains_any(name_l, L.FUND_MANAGER_INDICATORS), F.lit(0.75))
    s_name_sa = F.when(
        contains_any(name_l, L.STANDALONE_INDICATORS)
        & ~name_l.contains("fund") & ~name_l.contains("investment")
        & ~name_l.contains("management"),
        F.lit(0.65),
    )
    s_dom_known = F.when(
        F.array_contains(L.const(sorted(L.KNOWN_FUND_MANAGER_DOMAINS)), dom), F.lit(0.85)
    )
    s_dom_pat = F.when(
        contains_any(dom, ["asset", "capital", "invest", "fund", "wealth", "advisory"]),
        F.lit(0.7),
    )
    s_inst = F.when(contains_any(name_l, L.INSTITUTIONAL_INVESTOR_PATTERNS), F.lit(0.8))

    mf_parts = [s_fm_field, s_name_mf, s_dom_known, s_dom_pat, s_inst]
    if short_name_col is not None:
        sn_u = F.upper(F.coalesce(F.col(short_name_col), F.lit("")))
        sn_hit = (
            sn_u.endswith("FM") | sn_u.endswith("_FM") | sn_u.contains("_FM_")
            | sn_u.contains("-FM-") | sn_u.endswith("FUND") | sn_u.contains("MGMT")
        )
        mf_parts.append(F.when(F.col(short_name_col).isNotNull() & sn_hit, F.lit(0.7)))
    mf_signals = F.array_compact(F.array(*mf_parts))
    mf_n = F.size(mf_signals)
    mf_score = F.when(
        mf_n > 0,
        F.aggregate(mf_signals, F.lit(0.0), lambda acc, x: acc + x) / F.sqrt(mf_n)
    ).otherwise(F.lit(0.0))
    sa_score = F.coalesce(s_name_sa, F.lit(0.0))

    etype = (
        F.when((mf_score < 0.5) & (sa_score < 0.5), F.lit("UNKNOWN"))
        .when(mf_score >= sa_score, F.lit("MANAGED_FUND"))
        .otherwise(F.lit("STANDALONE"))
    )
    return df.withColumn(f"{p}entity_type", etype)


def build_records(transcripts: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """Full S1: transcripts -> one extracted record per conversation.

    Extraction runs over normalized text (the reference's cleanText =
    normalize + label fixes, FieldParser.java:119-129); the tax-form entity
    comes from 'fetch_taxform' tool turns (the graft analog of the parallel
    tax-document extraction, orchestrator stage 2).
    """
    cfg = config or DEFAULT_CONFIG
    udfs = build_udfs()

    conv = assemble_conversations(transcripts, cfg)
    norm_doc = udfs["norm_doc_text"]
    conv = conv.withColumns({
        "norm_text": norm_doc(F.col("text")),
        "norm_tax_text":
            F.when(F.col("tax_text").isNotNull(), norm_doc(F.col("tax_text"))),
    })

    # NOTE prefix "taxform_" (not "tax_"): the main record already emits
    # tax_country_code (C10's second pattern fill), which must not collide.
    rec = extract_fields(conv, "norm_text", prefix="", config=cfg)
    rec = extract_fields(rec, "norm_tax_text", prefix="taxform_", config=cfg)
    rec = detect_entity_type(rec, prefix="")

    # normalized name columns used by blocking + scoring (D6/D7/D9 analogs);
    # one withColumns call — chained withColumn re-analyzes the plan per column
    rec = rec.withColumns({
        "norm_legal_name": udfs["norm_name"]("legal_name"),
        "norm_fund_manager":
            F.when(F.col("fund_manager").isNotNull(), udfs["norm_fund_manager"]("fund_manager")),
        "clean_name_key":
            F.nullif(F.regexp_replace(F.lower(F.coalesce("legal_name", F.lit(""))), "[^a-z0-9]", ""), F.lit("")),
        "ein_nohyphen":
            F.when(F.col("ein").isNotNull(), F.regexp_replace("ein", "-", "")),
        "has_tax": F.col("norm_tax_text").isNotNull(),
    })
    # the normalized document text is dead weight once extraction has run —
    # dropping it keeps the S1 checkpoint and every downstream shuffle lean
    # (the raw text dominates row size)
    return rec.drop("turns", "text", "tax_text", "norm_text", "norm_tax_text")
