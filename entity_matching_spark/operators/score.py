"""S4 — pairwise comparison, discrepancy detection, scoring, decision.

Re-expresses the reference's per-pair match kernel (groups H, I, K of
SURVEY.md §2) as set-oriented DataFrame transforms over the candidate-pair
table. Citations into /root/reference/src/main/java/com/loantrading/matching/.

Division of labor (north rule: vectorized pandas/Arrow UDFs, no per-row
Python at the Spark boundary):

- ONE Arrow-batched pandas UDF computes every Jaro-Winkler-derived quantity
  for the pair batch (engine/FuzzyNameMatcher.java:79-239 name tiers,
  engine/CrossSourceValidator.java:98-140 cross-form similarities,
  engine/DiscrepancyDetector.java:196-199 raw-FM similarity). The JW DP runs
  batched-numpy (functions/similarity.py); tier predicates (exact/containment/
  reorder/acronym) are cheap O(len) string ops on the Arrow batch.
- Everything else — identifier components (engine/IdentifierMatcher.java:
  26-141), email boost (engine/EmailDomainMatcher.java:55-179), geographic
  consistency, discrepancy flags, final score (engine/ConfidenceScorer.java:
  18-75), decision (orchestrator/EntityMatchingOrchestrator.java:192-212) —
  is native column arithmetic inside whole-stage codegen.

Pair orientation: the lexicographically-smaller conv_id plays the reference's
"extracted" (probe) role, the larger the "LoanIQ candidate" role. The
orientation is deterministic, so two runs give identical scores.

Semantic quirks (SURVEY.md §4.4): Q1 is the ``penalty_inverted`` flag in
config.py; Q2 (true JW similarity) and Q3 (lost DD boost) are fixed choices
documented where they are applied below.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType, StructField, DoubleType
from pyspark.sql.window import Window

from ..config import DEFAULT_CONFIG, SEVERITY_PENALTY, MatchConfig
from .blocking import DUPLICATE_KEY_PASSES

# record columns carried into the pair join for each side
SIDE_COLS = [
    "conv_id", "mei", "lei", "ein", "ein_nohyphen", "debt_domain_id",
    "email_domain", "legal_name", "norm_legal_name", "clean_name_key",
    "fund_manager", "norm_fund_manager", "dba", "country_code",
    "tax_country_code",
    "taxform_legal_name", "taxform_ein", "taxform_lei", "taxform_mei",
    "taxform_debt_domain_id", "taxform_country_code", "has_tax",
]
# NOTE: entity_type is intentionally NOT carried into the pair join — the
# reference's composite-match logic keys off fund-manager presence
# (FuzzyNameMatcher.java:46-63), not the detected EntityType, and unused
# columns in a 10^6-pair shuffle are pure bandwidth waste.

_JW_FIELDS = [
    "jw_legal",        # JW on D6-normalized legal names (FuzzyNameMatcher.java:92)
    "legal_score",     # full H4/H6 tier result (FuzzyNameMatcher.java:79-120,149-180)
    "fm_score",        # H5 tier result on D7-normalized FMs (:122-147)
    "jw_fm_raw",       # RAW fund-manager JW for I10 (DiscrepancyDetector.java:196-199)
    "jw_a_atax",       # probe legal vs probe tax-form legal (CrossSourceValidator.java:98-102)
    "jw_atax_bleg",    # probe tax-form legal vs candidate legal (:126-131)
]


def _pair_scores_udf():
    """The single Arrow-batched similarity UDF (see module docstring)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.normalize import normalize_name
    # Q2: true JW similarity, not the 1 - similarity that commons-text >=1.8
    # JaroWinklerDistance.apply hands the reference's call sites
    # (engine/FuzzyNameMatcher.java:92,113,127; intent per
    # system-requirements.md:193-217).
    from ..functions.similarity import encode_strings, jaro_winkler_encoded as jw_enc

    def enc(s: pd.Series):
        return encode_strings(s.tolist())

    def jw(a: pd.Series, b: pd.Series):
        return jw_enc(enc(a), enc(b))

    schema = StructType([StructField(f, DoubleType()) for f in _JW_FIELDS])

    @pandas_udf(schema)
    def pair_scores(
        norm_legal_a: pd.Series, norm_legal_b: pd.Series,
        legal_raw_a: pd.Series, legal_raw_b: pd.Series,
        dba_a: pd.Series,
        norm_fm_a: pd.Series, norm_fm_b: pd.Series,
        fm_raw_a: pd.Series, fm_raw_b: pd.Series,
        tax_legal_a: pd.Series,
        nm_contains: pd.Series, nm_reorder: pd.Series,
        fm_contains_col: pd.Series, fm_acronym: pd.Series,
    ) -> pd.DataFrame:
        # The containment / word-reorder / acronym tier predicates arrive as
        # JVM-computed boolean columns (see _tier_predicates) — the UDF keeps
        # only the JW work, so the Arrow batch has NO per-row Python loops.
        import numpy as np

        n = len(norm_legal_a)
        la = norm_legal_a.fillna("")
        lb = norm_legal_b.fillna("")
        # encode each column ONCE; all JW calls reuse the encodings
        e_la, e_lb = enc(la), enc(lb)

        # --- H6 DBA split of the candidate name (FuzzyNameMatcher.java:149-180)
        # Java: candidateName.split("\\s+(?:DBA|d/b/a)\\s+", 2) — case-sensitive
        braw = legal_raw_b.fillna("")
        parts = braw.str.split(r"\s+(?:DBA|d/b/a)\s+", n=1, regex=True)
        has_dba_b = parts.map(len) == 2
        dba_score = np.zeros(n)
        m = has_dba_b.to_numpy()
        if m.any():
            b_leg_part = normalize_name(parts.map(lambda p: p[0] if len(p) == 2 else ""))
            b_dba_part = normalize_name(parts.map(lambda p: p[1] if len(p) == 2 else ""))
            norm_dba_a = normalize_name(dba_a.fillna(""))
            e_bdba = enc(b_dba_part)
            # extracted DBA vs candidate DBA part
            d1 = jw_enc(enc(norm_dba_a), e_bdba)
            hit1 = m & dba_a.notna().to_numpy() & (d1 > 0.85)
            dba_score = np.where(hit1, 0.95, dba_score)
            # extracted legal vs either candidate part (FuzzyNameMatcher.java:167-173)
            d2 = np.maximum(jw_enc(e_la, enc(b_leg_part)), jw_enc(e_la, e_bdba))
            hit2 = m & ~hit1 & legal_raw_a.notna().to_numpy()
            dba_score = np.where(hit2, d2, dba_score)

        # --- H4 legal-name tiers (FuzzyNameMatcher.java:92-119)
        jw_legal = jw_enc(e_la, e_lb)
        exact = (la == lb).to_numpy()
        contains = nm_contains.fillna(False).to_numpy(dtype=bool)
        reorder = nm_reorder.fillna(False).to_numpy(dtype=bool)
        legal = np.where(
            dba_score > 0.85, dba_score,
            np.where(exact, 1.0,
                     np.where(contains, np.maximum(jw_legal, 0.85),
                              np.where(reorder, np.maximum(jw_legal, 0.80), jw_legal))),
        )

        # --- H5 fund-manager tiers (FuzzyNameMatcher.java:122-147,213-239)
        fa = norm_fm_a.fillna("")
        fb = norm_fm_b.fillna("")
        fm = jw_enc(enc(fa), enc(fb))
        acronym = fm_acronym.fillna(False).to_numpy(dtype=bool)
        fm = np.where(acronym, np.maximum(fm, 0.9), fm)
        fm = np.where(
            fm_contains_col.fillna(False).to_numpy(dtype=bool), np.maximum(fm, 0.85), fm
        )

        e_tax = enc(tax_legal_a)
        return pd.DataFrame({
            "jw_legal": jw_legal,
            "legal_score": legal,
            "fm_score": fm,
            "jw_fm_raw": jw(fm_raw_a, fm_raw_b),
            "jw_a_atax": jw_enc(enc(legal_raw_a), e_tax),
            "jw_atax_bleg": jw_enc(e_tax, enc(braw)),
        })

    # asNondeterministic: the UDF IS deterministic, but the flag stops
    # Catalyst's CollapseProject/pushdown from CLONING the expensive Arrow
    # kernel — without it the executed plan evaluates pair_scores TWICE per
    # pair (once below the has_dup join, once above it), doubling the
    # dominant scoring cost (found by the formatted-plan node count; see
    # tests/test_plan_discipline.py which pins exactly one ArrowEval node).
    return pair_scores.asNondeterministic()


def _tier_predicates() -> dict[str, F.Column]:
    """The H4/H5 tier predicates (containment, word-reorder, acronym) as
    NATIVE column expressions over the pair-joined side columns — they run
    inside whole-stage codegen and feed the Arrow UDF as booleans, so the
    only Python left in the hot path is the batched-numpy JW kernel.

    Exactly mirrors the reference semantics the UDF previously computed
    per-row (FuzzyNameMatcher.java:105-117 containment/reorder over
    normalized names, :213-239 acronym/containment over normalized fund
    managers); D6/D7-normalized names are single-space-collapsed, so
    ``split(' ')`` equals Python's ``str.split()`` on every non-empty input,
    and the empty-string edge cases fall out identically (analysis pinned by
    the H4/H5 tier tests and the pairwise-F1 gate).
    """
    nla = F.coalesce("norm_legal_name_a", F.lit(""))
    nlb = F.coalesce("norm_legal_name_b", F.lit(""))
    ne_both = (F.length(nla) > 0) & (F.length(nlb) > 0)
    nm_contains = ne_both & (nla.contains(nlb) | nlb.contains(nla))
    nm_reorder = (
        F.sort_array(F.split(nla, " ")) == F.sort_array(F.split(nlb, " "))
    ) & (F.size(F.split(nla, " ")) == F.size(F.split(nlb, " ")))

    fa = F.coalesce("norm_fund_manager_a", F.lit(""))
    fb = F.coalesce("norm_fund_manager_b", F.lit(""))
    fm_both = (F.length(fa) > 0) & (F.length(fb) > 0)
    fm_contains = fm_both & (fa.contains(fb) | fb.contains(fa))

    def words(c):
        return F.filter(F.split(c, " "), lambda w: w != "")

    def acr(ws):
        return F.lower(F.concat_ws("", F.transform(ws, lambda w: F.substring(w, 1, 1))))

    wa, wb = words(fa), words(fb)
    acr_ab = (F.size(wa) == 1) & (F.size(wb) > 1) & (F.lower(F.element_at(wa, 1)) == acr(wb))
    acr_ba = (F.size(wb) == 1) & (F.size(wa) > 1) & (F.lower(F.element_at(wb, 1)) == acr(wa))
    fm_acronym = fm_both & (acr_ab | acr_ba)
    return {
        "nm_contains": nm_contains,
        "nm_reorder": nm_reorder,
        "fm_contains": fm_contains,
        "fm_acronym": fm_acronym,
    }


def _prepare_sides(rec: DataFrame) -> tuple[DataFrame, DataFrame]:
    # I13 input: does any OTHER record share this cleaned-short-name key?
    # Window count on the records table (null keys get singleton partitions)
    # — one records-sized shuffle instead of broadcasting a key-counts table
    # that grows with the data (driver bottleneck at scale).
    # A caller that already knows the answer (streaming keeps an incremental
    # key-counts table; a pre-filtered subset would under-count) passes the
    # column in and the corpus-sized window is skipped entirely.
    if "shortname_dup" not in rec.columns:
        wk = Window.partitionBy(F.coalesce("clean_name_key", "conv_id"))
        rec = rec.withColumn(
            "shortname_dup",
            F.col("clean_name_key").isNotNull() & (F.count("*").over(wk) > 1),
        )
    cols = SIDE_COLS + ["shortname_dup"]
    a = rec.select([F.col(c).alias(f"{c}_a" if c != "conv_id" else "conv_id_a") for c in cols])
    b = rec.select([F.col(c).alias(f"{c}_b" if c != "conv_id" else "conv_id_b") for c in cols])
    return a, b


def duplicate_flags(records: DataFrame, pairs: DataFrame) -> DataFrame:
    """J1-J3 — per-record potential-duplicate flag (engine/DuplicateDetector.java).

    A record has potential duplicates when any OTHER record shares MEI, LEI or
    EIN (J1, :32-66), shares the cleaned-short-name key (J2, :69-84), or has a
    D9-similar name (J3, :87-156: exact normalized / containment / same word
    multiset). J3 candidates come from the name-blocked pair set — the
    set-oriented stand-in for findByName. Feeds the -5 scoring penalty
    (engine/ConfidenceScorer.java:62-66).
    """
    d9 = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce("legal_name", F.lit(""))), "[^a-z0-9\\s]", " "),
            "\\s+", " ",
        )
    )
    rec = records.select("conv_id", d9.alias("d9"))
    a = rec.select(F.col("conv_id").alias("conv_id_a"), F.col("d9").alias("d9_a"))
    b = rec.select(F.col("conv_id").alias("conv_id_b"), F.col("d9").alias("d9_b"))
    p = pairs.join(a, "conv_id_a").join(b, "conv_id_b")

    key_dup = F.col("pass").isin(*DUPLICATE_KEY_PASSES)
    name_sim = (
        (F.col("d9_a") != "")
        & (F.col("d9_b") != "")
        & (
            (F.col("d9_a") == F.col("d9_b"))
            | F.col("d9_a").contains(F.col("d9_b"))
            | F.col("d9_b").contains(F.col("d9_a"))
            | (
                F.sort_array(F.split("d9_a", "\\s+")) == F.sort_array(F.split("d9_b", "\\s+"))
            )
        )
    )
    dup_edges = p.where(key_dup | name_sim)
    members = dup_edges.select(F.col("conv_id_a").alias("conv_id")).unionAll(
        dup_edges.select(F.col("conv_id_b").alias("conv_id"))
    )
    return members.distinct().withColumn("has_dup", F.lit(True))


def score_pairs(
    records: DataFrame,
    pairs: DataFrame,
    config: MatchConfig | None = None,
    dup_source_pairs: DataFrame | None = None,
) -> DataFrame:
    """Full S4: candidate pairs -> scored pairs with discrepancies + decision.

    ``dup_source_pairs`` optionally widens the pair set the J1-J3 duplicate
    detector sees beyond the pairs being scored — catalog mode passes the
    UNFILTERED pair universe (incl. catalog-catalog edges) so catalog-internal
    duplicates still trigger the -5 penalty even though only probe-catalog
    pairs are scored (engine/DuplicateDetector.java runs over the catalog,
    not over the probe's candidate list).
    """
    cfg = config or DEFAULT_CONFIG
    a, b = _prepare_sides(records)
    dup = duplicate_flags(
        records, pairs if dup_source_pairs is None else dup_source_pairs
    )

    df = (
        pairs.join(a, "conv_id_a")
        .join(b, "conv_id_b")
        .join(dup.withColumnRenamed("conv_id", "conv_id_b"), "conv_id_b", "left")
        .withColumn("has_dup_b", F.coalesce("has_dup", F.lit(False)))
        .drop("has_dup")
    )

    # --- similarity UDF (one Arrow pass per batch); tier predicates native --
    tiers = _tier_predicates()
    scores = _pair_scores_udf()(
        "norm_legal_name_a", "norm_legal_name_b",
        "legal_name_a", "legal_name_b",
        "dba_a",
        "norm_fund_manager_a", "norm_fund_manager_b",
        "fund_manager_a", "fund_manager_b",
        "taxform_legal_name_a",
        tiers["nm_contains"], tiers["nm_reorder"],
        tiers["fm_contains"], tiers["fm_acronym"],
    )
    df = df.withColumn("s", scores).select("*", "s.*").drop("s")

    # North-star similarity triple: alongside the JW kernel, Levenshtein and
    # token-Jaccard ride along as native JVM columns (the reference constructs
    # Levenshtein but never calls it — dead-code note N1, SURVEY.md §4.4; both
    # are informational here and add no Python cost).
    nla = F.coalesce("norm_legal_name_a", F.lit(""))
    nlb = F.coalesce("norm_legal_name_b", F.lit(""))
    ta = F.array_distinct(F.filter(F.split(nla, r"\s+"), lambda t: t != ""))
    tb = F.array_distinct(F.filter(F.split(nlb, r"\s+"), lambda t: t != ""))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    # withColumns (not chained withColumn): each withColumn re-runs Catalyst
    # analysis over the whole tree; batching keeps plan authoring O(1) per
    # group — measured ~2-3x faster driver time on this deep scoring plan
    df = df.withColumns({
        "lev_name": F.levenshtein(nla, nlb),
        "token_jaccard":
            F.when((F.size(ta) == 0) & (F.size(tb) == 0), 1.0)
            .when(union > 0, inter / union).otherwise(0.0),
    })

    # --- identifier components (IdentifierMatcher.java:26-141) --------------
    # Both sides must be null-checked BEFORE the equality: `a IS NOT NULL AND
    # a = b` is SQL NULL (not false) when b is null, and a NULL leaking into
    # the id_count integer arithmetic silently nulls the whole sum — the
    # multi-id bonus then evaluates 0 for every pair with any one-sided
    # identifier (caught by the em_catalog_match cross-engine oracle).
    def _eq(ca: str, cb: str) -> F.Column:
        a_, b_ = F.col(ca), F.col(cb)
        return a_.isNotNull() & b_.isNotNull() & (a_ == b_)

    mei_eq = _eq("mei_a", "mei_b")
    lei_eq = _eq("lei_a", "lei_b")
    ein_eq = _eq("ein_nohyphen_a", "ein_nohyphen_b")
    dd_eq = _eq("debt_domain_id_a", "debt_domain_id_b")
    df = df.withColumns({
        "mei_eq": mei_eq, "lei_eq": lei_eq, "ein_eq": ein_eq, "dd_eq": dd_eq,
    })
    id_base = (
        F.when(F.col("mei_eq"), 40.0).when(F.col("lei_eq"), 35.0)
        .when(F.col("ein_eq"), 30.0).when(F.col("dd_eq"), 25.0).otherwise(0.0)
    )
    # boosts only for identifiers matching AFTER an earlier pass already hit
    # (enhanceExistingMatch, IdentifierMatcher.java:128-141)
    lei_boost = F.when(F.col("lei_eq") & F.col("mei_eq"), 20.0).otherwise(0.0)
    ein_boost = F.when(F.col("ein_eq") & (F.col("mei_eq") | F.col("lei_eq")), 15.0).otherwise(0.0)
    # Q3: no DD boost term. The reference writes it under the key
    # "debt domain id_boost" (engine/IdentifierMatcher.java:137) but the scorer
    # reads "debt_domain_id_boost" (engine/ConfidenceScorer.java:95), so the
    # boost is silently lost; replicated (SURVEY.md §4.4).
    identifier_score = id_base + lei_boost + ein_boost

    # identifier count (ConfidenceScorer.java:171-189). Under Q3 a DD *boost*
    # is invisible to the counter too (malformed key) — DD counts only as base
    dd_counts = F.col("dd_eq") & ~(F.col("mei_eq") | F.col("lei_eq") | F.col("ein_eq"))
    id_count = (
        F.col("mei_eq").cast("int") + F.col("lei_eq").cast("int")
        + F.col("ein_eq").cast("int") + dd_counts.cast("int")
    )
    multi_id_bonus = F.when(id_count > 1, (id_count - 1) * 5.0).otherwise(0.0)

    # --- name components (FuzzyNameMatcher + ConfidenceScorer.java:100-128) --
    # Fuzzy name components exist only for FUZZY_NAME-strategy pairs: the
    # reference's fuzzy pass skips entities already matched by identifier
    # (MatchingEngine.java:70-77), and email-strategy candidates carry no
    # components at all (:92-108).
    both_fm = F.col("fund_manager_a").isNotNull() & F.col("fund_manager_b").isNotNull()
    neither_fm = F.col("fund_manager_a").isNull() & F.col("fund_manager_b").isNull()
    is_fuzzy = F.col("strategy") == "FUZZY_NAME"
    both_legal = F.col("legal_name_a").isNotNull() & F.col("legal_name_b").isNotNull()

    legal_raw = F.when(both_legal, F.col("legal_score")).otherwise(0.0)
    fm_raw_score = (
        F.when(both_fm, F.col("fm_score"))
        .when(neither_fm, 1.0)
        .otherwise(0.3)  # one-sided fund manager (FuzzyNameMatcher.java:56-63)
    )
    is_composite = both_fm  # setCompositeMatch(true) only when both present
    legal70 = legal_raw * 70
    fm30 = fm_raw_score * 30
    name_score_inner = F.when(
        is_composite,
        F.when((legal70 > 60) & (fm30 > 20), legal70 * 0.7 + fm30 * 0.3)
        .otherwise(F.least(legal70, fm30) * 0.5),
    ).otherwise(legal70)
    name_score = F.when(is_fuzzy, name_score_inner * 0.3).otherwise(0.0)

    # preliminary fuzzy composite (MatchResult score before final scoring) —
    # gates candidate-list membership at >50 (MatchingEngine.java:72)
    composite_pre = F.when(
        is_composite,
        F.when((legal_raw < 0.7) | (fm_raw_score < 0.6), F.least(legal_raw, fm_raw_score) * 0.5)
        .otherwise(legal_raw * 0.7 + fm_raw_score * 0.3),
    ).otherwise(legal_raw) * 100
    fuzzy_kept = ~is_fuzzy | (composite_pre > cfg.fuzzy_keep_threshold)

    # --- email-domain boost (EmailDomainMatcher.java:55-179) -----------------
    # enhance() runs over matches that exist at step 3 (identifier + fuzzy);
    # email-strategy candidates are created after and never boosted
    from ..functions.lookups import (
        CORPORATE_DOMAINS, TLD_COUNTRY, FINANCIAL_KEYWORDS,
        const, contains_any_expr,
    )

    dom = F.col("email_domain_a")
    # domain root: strip TLD, keep last label before it (:118-135)
    root = F.element_at(F.split(F.substring_index(dom, ".", -2), "\\."), 1)
    name_b_l = F.lower(F.coalesce("legal_name_b", F.lit("")))
    fm_b_l = F.lower(F.coalesce("fund_manager_b", F.lit("")))
    direct = name_b_l.contains(root) | fm_b_l.contains(root)

    # corporate-family lookup as ONE map + exists() instead of a ~120-term OR
    # chain — keeps the Catalyst expression tree shallow (deep chains overflow
    # the analyzer's recursion at plan time) and the whole check codegen-able
    corp_map = const(CORPORATE_DOMAINS)
    corp = F.exists(
        F.coalesce(corp_map[dom], F.array().cast("array<string>")),
        lambda nm: name_b_l.contains(nm) | fm_b_l.contains(nm),
    )

    # (tld, country) pairs as one nested array literal + exists()
    geo_tld = F.exists(
        const(TLD_COUNTRY),
        lambda p: dom.endswith(F.element_at(p, 1))
        & (F.col("country_code_b") == F.element_at(p, 2)),
    )
    geo5 = F.when(F.col("country_code_b").isNotNull() & geo_tld, 5.0).otherwise(0.0)

    fin_dom = contains_any_expr(F.lower(dom), FINANCIAL_KEYWORDS)
    fin_ent = (
        contains_any_expr(name_b_l, FINANCIAL_KEYWORDS)
        | contains_any_expr(fm_b_l, FINANCIAL_KEYWORDS)
    )
    fin3 = F.when(fin_dom & fin_ent, 3.0).otherwise(0.0)

    email_boost = F.when(
        dom.isNull() | (F.col("strategy") == "EMAIL_DOMAIN"), 0.0
    ).otherwise(
        F.when(direct, 20.0).when(corp, 15.0).otherwise(geo5 + fin3)
    )

    # --- geographic consistency (ConfidenceScorer.java:141-169) --------------
    geo_ok = (
        F.when(F.col("country_code_a").isNull() | F.col("country_code_b").isNull(), True)
        .when(
            F.col("mei_a").isNotNull() & F.col("mei_b").isNotNull(),
            F.substring("mei_a", 1, 2) == F.substring("mei_b", 1, 2),
        )
        .otherwise(F.col("country_code_a") == F.col("country_code_b"))
    )
    geo_score = F.when(geo_ok, 10.0).otherwise(0.0)

    # --- cross-source (tax form) validation (CrossSourceValidator.java) ------
    tax = F.col("has_tax_a")
    t_ein = F.col("taxform_ein_a")
    a_ein = F.col("ein_a")
    ein_forms_eq = t_ein.isNotNull() & a_ein.isNotNull() & (t_ein == a_ein)
    ein_forms_ne = t_ein.isNotNull() & a_ein.isNotNull() & (t_ein != a_ein)
    ein_taxonly = t_ein.isNotNull() & a_ein.isNull()
    ein_tax_loaniq_eq = ein_taxonly & F.col("ein_b").isNotNull() & (t_ein == F.col("ein_b"))
    ein_tax_loaniq_ne = ein_taxonly & F.col("ein_b").isNotNull() & (t_ein != F.col("ein_b"))
    tax_ein_boost = (
        F.when(ein_forms_eq, 10.0).when(ein_forms_ne, -15.0).otherwise(0.0)
        + F.when(ein_taxonly, 5.0).otherwise(0.0)
        + F.when(ein_tax_loaniq_eq, 10.0).when(ein_tax_loaniq_ne, -10.0).otherwise(0.0)
    )

    t_leg = F.col("taxform_legal_name_a")
    names_cmp = t_leg.isNotNull() & F.col("legal_name_a").isNotNull()
    tax_name_boost = F.when(
        names_cmp,
        F.when(F.col("jw_a_atax") > 0.9, 8.0)
        .when(F.col("jw_a_atax") > 0.8, 3.0)
        .when(F.col("jw_a_atax") < 0.7, -10.0)
        .otherwise(0.0)
        + F.when(
            F.col("legal_name_b").isNotNull() & (F.col("jw_atax_bleg") > 0.85), 5.0
        ).otherwise(0.0),
    ).otherwise(0.0)

    t_cc = F.col("taxform_country_code_a")
    cc_cmp = t_cc.isNotNull() & F.col("country_code_a").isNotNull()
    tax_cc_boost = F.when(cc_cmp & (t_cc == F.col("country_code_a")), 2.0) \
        .when(cc_cmp & (t_cc != F.col("country_code_a")), -5.0).otherwise(0.0)

    t_lei = F.col("taxform_lei_a")
    lei_extra = (
        t_lei.isNotNull() & F.col("lei_a").isNull()
        & F.col("lei_b").isNotNull() & (t_lei == F.col("lei_b"))
    )
    t_dd = F.col("taxform_debt_domain_id_a")
    dd_extra = (
        t_dd.isNotNull() & F.col("debt_domain_id_a").isNull()
        & F.col("debt_domain_id_b").isNotNull() & (t_dd == F.col("debt_domain_id_b"))
    )
    tax_extra = F.when(lei_extra, 15.0).otherwise(0.0) + F.when(dd_extra, 10.0).otherwise(0.0)

    tax_score = F.when(tax, tax_ein_boost + tax_name_boost + tax_cc_boost + tax_extra).otherwise(0.0)

    # --- discrepancies (DiscrepancyDetector.java + FuzzyNameMatcher/Validator)
    disc_struct = lambda typ, sev: F.struct(  # noqa: E731
        F.lit(typ).alias("type"), F.lit(sev).alias("severity")
    )

    def flag(cond, typ, sev):
        return F.when(cond, disc_struct(typ, sev))

    mei_a, mei_b = F.col("mei_a"), F.col("mei_b")
    cc_a, cc_b = F.col("country_code_a"), F.col("country_code_b")
    discs = [
        # I1-I5 identifier checks (:58-128)
        flag(mei_a.isNotNull() & mei_b.isNotNull() & (mei_a != mei_b), "MEI_MISMATCH", "CRITICAL"),
        flag(mei_a.isNotNull() & mei_b.isNull(), "MEI_MISSING_LOANIQ", "HIGH"),
        flag(
            F.col("lei_a").isNotNull() & F.col("lei_b").isNotNull()
            & (F.col("lei_a") != F.col("lei_b")), "LEI_MISMATCH", "HIGH",
        ),
        flag(
            F.col("ein_nohyphen_a").isNotNull() & F.col("ein_nohyphen_b").isNotNull()
            & (F.col("ein_nohyphen_a") != F.col("ein_nohyphen_b")), "EIN_MISMATCH", "HIGH",
        ),
        flag(
            F.col("debt_domain_id_a").isNotNull() & F.col("debt_domain_id_b").isNotNull()
            & (F.col("debt_domain_id_a") != F.col("debt_domain_id_b")),
            "DEBT_DOMAIN_ID_MISMATCH", "MEDIUM",
        ),
        # I6-I8 geographic checks (:134-175)
        flag(
            mei_a.isNotNull() & cc_a.isNotNull() & (F.substring("mei_a", 1, 2) != cc_a),
            "COUNTRY_MISMATCH_MEI_ADDRESS", "MEDIUM",
        ),
        flag(cc_a.isNotNull() & cc_b.isNotNull() & (cc_a != cc_b),
             "COUNTRY_MISMATCH_FORM_LOANIQ", "MEDIUM"),
        flag(
            F.col("tax_country_code_a").isNotNull() & cc_a.isNotNull()
            & (F.col("tax_country_code_a") != cc_a), "COUNTRY_MISMATCH_TAX_LEGAL", "LOW",
        ),
        # I9 DBA (:181-192)
        flag(
            F.col("dba_a").isNotNull()
            & ~F.upper(F.coalesce("legal_name_b", F.lit(""))).contains("DBA")
            & ~F.upper(F.coalesce("legal_name_b", F.lit(""))).contains("D/B/A"),
            "DBA_NOT_IN_LOANIQ", "LOW",
        ),
        # I10 raw fund-manager similarity (:195-211, note N3: RAW names)
        flag(both_fm & (F.col("jw_fm_raw") < 0.7), "FUND_MANAGER_MISMATCH", "MEDIUM"),
        # I11 one-sided fund manager (:214-235)
        flag(F.col("fund_manager_a").isNotNull() & F.col("fund_manager_b").isNull(),
             "FUND_MANAGER_MISSING_LOANIQ", "MEDIUM"),
        flag(F.col("fund_manager_a").isNull() & F.col("fund_manager_b").isNotNull(),
             "UNEXPECTED_FUND_MANAGER_LOANIQ", "MEDIUM"),
        # I16 entity-type mismatch from the fuzzy kernel (FuzzyNameMatcher.java:56-63)
        flag(is_fuzzy & ~both_fm & ~neither_fm, "ENTITY_TYPE_MISMATCH", "MEDIUM"),
        # I13 short-name duplicates (:305-321)
        flag(F.col("shortname_dup_b"), "POTENTIAL_DUPLICATE_SHORT_NAME", "LOW"),
        # I15 candidate-internal MEI/country mismatch (:336-348)
        flag(
            mei_b.isNotNull() & cc_b.isNotNull() & (F.substring("mei_b", 1, 2) != cc_b),
            "INTERNAL_COUNTRY_MISMATCH", "MEDIUM",
        ),
        # I12 cross-form checks, probe vs its own tax form (:241-299)
        flag(tax & ein_forms_ne, "EIN_MISMATCH_CROSS_FORM", "CRITICAL"),
        flag(tax & names_cmp & (F.col("jw_a_atax") < 0.85),
             "LEGAL_NAME_MISMATCH_CROSS_FORM", "HIGH"),
        flag(tax & cc_cmp & (t_cc != cc_a), "COUNTRY_MISMATCH_CROSS_FORM", "MEDIUM"),
        flag(
            tax & F.col("taxform_mei_a").isNotNull() & mei_a.isNotNull()
            & (F.col("taxform_mei_a") != mei_a), "MEI_MISMATCH_CROSS_FORM", "CRITICAL",
        ),
        # I17 validator-side duplicates of the cross-form checks
        # (CrossSourceValidator.java:62-87,104-113)
        flag(tax & ein_forms_ne, "EIN_MISMATCH_FORMS", "CRITICAL"),
        flag(tax & ein_tax_loaniq_ne, "EIN_MISMATCH_TAX_LOANIQ", "HIGH"),
        flag(tax & names_cmp & (F.col("jw_a_atax") < 0.7), "LEGAL_NAME_MISMATCH_FORMS", "HIGH"),
        flag(tax & cc_cmp & (t_cc != cc_a), "COUNTRY_MISMATCH_FORMS", "MEDIUM"),
    ]
    df = df.withColumn("discrepancies", F.array_compact(F.array(*discs)))

    # --- penalty (ConfidenceScorer.java:44-46,130-139; quirk Q1) -------------
    sev_map = const(SEVERITY_PENALTY)
    sign = 1.0 if cfg.penalty_inverted else -1.0
    pen_sum = F.aggregate(
        "discrepancies", F.lit(0.0), lambda acc, d: acc + sign * sev_map[d["severity"]]
    )
    penalty = F.least(pen_sum, F.lit(50.0))
    has_critical = F.exists("discrepancies", lambda d: d["severity"] == "CRITICAL")

    dup_penalty = F.when(F.col("has_dup_b"), 5.0).otherwise(0.0)

    raw_score = (
        identifier_score + name_score + email_boost + geo_score
        - penalty + tax_score + multi_id_bonus - dup_penalty
    )
    score = F.greatest(F.lit(0.0), F.least(F.lit(100.0), raw_score))

    df = df.withColumns({
        "identifier_score": identifier_score,
        "name_score": name_score,
        "email_boost": email_boost,
        "geo_score": geo_score,
        "tax_score": tax_score,
        "multi_id_bonus": multi_id_bonus,
        "dup_penalty": dup_penalty,
        "discrepancy_penalty": penalty,
        "has_critical": has_critical,
        "fuzzy_kept": fuzzy_kept,
        "score": score,
    })
    df = df.where(F.col("fuzzy_kept"))
    df = df.withColumns({
        "confidence": confidence_bucket(F.col("score")),
        "decision": decision_expr(F.col("score"), F.col("has_critical"), cfg),
    })
    return df


def confidence_bucket(score) -> F.Column:
    """K2 — entity/MatchResult.java:140-145."""
    return (
        F.when(score >= 95, "HIGH")
        .when(score >= 85, "MEDIUM_HIGH")
        .when(score >= 70, "MEDIUM")
        .otherwise("REVIEW")
    )


def decision_expr(score, has_critical, config: MatchConfig | None = None) -> F.Column:
    """K4 — orchestrator/EntityMatchingOrchestrator.java:192-212."""
    cfg = config or DEFAULT_CONFIG
    return (
        F.when((score >= cfg.match_threshold) & ~has_critical, "MATCH")
        .when(score >= cfg.match_threshold, "MANUAL_REVIEW")
        .when(score >= cfg.review_threshold, "MANUAL_REVIEW")
        .otherwise("NO_MATCH")
    )


def top_k_matches(scored: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """K3 — per-probe top-k by score (MatchingEngine.java:144-155).

    Per-group top-k via a window rank; ties broken by candidate id for
    determinism (the reference's sort is stable on insertion order — an
    arbitrary but fixed order; we pin id order and document the choice).
    """
    cfg = config or DEFAULT_CONFIG
    w = Window.partitionBy("conv_id_a").orderBy(F.desc("score"), F.asc("conv_id_b"))
    return (
        scored.withColumn("match_rank", F.row_number().over(w))
        .where(F.col("match_rank") <= cfg.top_k_matches)
    )


def match_edges(scored: DataFrame) -> DataFrame:
    """S5 — scored pairs with decision MATCH become clustering edges."""
    return scored.where(F.col("decision") == "MATCH").select("conv_id_a", "conv_id_b")
