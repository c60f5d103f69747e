"""Catalog-matching mode: probe records vs a LoanIQ-style entity table.

The reference's primary use is matching an extracted document entity against
the LoanIQ SQL catalog (`entities` + `entity_locations`, DDL at
build.gradle:256-304, mirrored in the H2 integration test
T/repository/DatabaseIntegrationTest.java:41-64). The transcript graft's
self-linkage covers dedup; this module covers the probe-vs-catalog use so a
reference user can run the same lookups set-oriented:

- ``catalog_to_records``: project the catalog schema onto the S1 record
  schema (full_name -> legal_name, ultimate_parent -> fund manager per the
  repurposing note at entity/LoanIQEntity.java:12) and pre-union location
  sub-entities — the set-oriented equivalent of the ``UNION ALL`` in
  sql/findByMEI.sql:1-7 / findByLEI.sql / findByEIN.sql: a location row
  carries its own identifiers and surfaces as a separate match candidate.
- ``match_records_to_catalog``: same blocking passes + the same S4 scoring
  kernel, but pairs are (probe conv_id, catalog entity) instead of unordered
  conversation pairs. After pair generation every cross pair is explicitly
  REORIENTED so the probe is always conv_id_a (the reference's 'extracted'
  role) and the catalog entity conv_id_b — role assignment never depends on
  how probe conv_ids happen to sort against the catalog namespace prefix.

Discrepancy I14 (ORPHANED_LOCATION_RECORD, DiscrepancyDetector.java:324-333)
lives here because it only exists for catalogs with location rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, MatchConfig

# Namespace prefix that keeps catalog ids disjoint from probe conv_ids in the
# unioned record table (role orientation is handled explicitly in
# match_records_to_catalog — it does NOT rely on this prefix's sort order).
CAT_PREFIX = "zcat:"

CATALOG_DDL = (
    "entity_id bigint, full_name string, short_name string, ultimate_parent string, "
    "mei string, lei string, ein string, debt_domain_id string, email_domain string, "
    "country_code string, legal_address string, tax_address string, "
    "record_type string, parent_customer_id bigint, last_modified timestamp"
)


def catalog_to_records(catalog: DataFrame) -> DataFrame:
    """Project catalog rows (main + location) onto the S1 record schema.

    Normalized name columns are computed with the same kernels as probe
    records; tax-form columns are null (the catalog has no tax documents).
    """
    from ..functions.normalize import build_udfs

    udfs = build_udfs()

    rec = catalog.select(
        F.concat(F.lit(CAT_PREFIX), F.col("entity_id").cast("string")).alias("conv_id"),
        F.col("entity_id"),
        F.col("full_name").alias("legal_name"),
        F.col("short_name"),
        # ultimate_parent is repurposed as fund manager (LoanIQEntity.java:12)
        F.col("ultimate_parent").alias("fund_manager"),
        "mei", "lei", "ein", "debt_domain_id", "email_domain", "country_code",
        F.coalesce("record_type", F.lit("MAIN")).alias("record_type"),
        "parent_customer_id",
        F.lit(None).cast("string").alias("tax_country_code"),
        F.lit(None).cast("string").alias("dba"),
        F.lit(False).alias("has_tax"),
        F.lit(None).cast("string").alias("taxform_legal_name"),
        F.lit(None).cast("string").alias("taxform_ein"),
        F.lit(None).cast("string").alias("taxform_lei"),
        F.lit(None).cast("string").alias("taxform_mei"),
        F.lit(None).cast("string").alias("taxform_debt_domain_id"),
        F.lit(None).cast("string").alias("taxform_country_code"),
    )
    # G1 over catalog rows: name/domain signals + the short-name signal
    # (analyzeShortName, EntityTypeDetector.java:90-92,155-165)
    from .assemble import detect_entity_type

    rec = detect_entity_type(rec, prefix="", short_name_col="short_name")
    # one withColumns call: chained withColumn re-analyzes the plan per column
    return rec.withColumns({
        "norm_legal_name": udfs["norm_name"]("legal_name"),
        "norm_fund_manager":
            F.when(F.col("fund_manager").isNotNull(), udfs["norm_fund_manager"]("fund_manager")),
        # B7 key is the CATALOG's cleaned short_name (sql/findByCleanedShortName.sql)
        "clean_name_key": F.nullif(
            F.regexp_replace(F.lower(F.coalesce("short_name", "legal_name", F.lit(""))),
                             "[^a-z0-9]", ""),
            F.lit(""),
        ),
        "ein_nohyphen":
            F.when(F.col("ein").isNotNull(), F.regexp_replace("ein", "-", "")),
    })


def match_records_to_catalog(
    records: DataFrame, catalog: DataFrame, config: MatchConfig | None = None
) -> DataFrame:
    """Probe records vs catalog entities -> scored candidates.

    Reuses generate_blocking_keys + generate_pairs + score_pairs on the union
    of both sides. Only probe-vs-catalog pairs are scored (the reference never
    compares two probes), each reoriented so the probe is conv_id_a and the
    catalog entity conv_id_b — all side-asymmetric scoring (tax-form
    validation, DBA split of the candidate name, email-domain boost from the
    probe's domain) then runs with the reference's roles regardless of how
    probe ids sort. The UNFILTERED pair set still feeds the J1-J3 duplicate
    detector, so catalog rows sharing identifiers with other catalog rows
    keep the -5 duplicate penalty (engine/DuplicateDetector.java runs over
    the catalog, not the candidate list).
    """
    cfg = config or DEFAULT_CONFIG
    from .blocking import cap_candidates_per_probe, generate_blocking_keys, generate_pairs
    from .score import SIDE_COLS, score_pairs

    cat = catalog_to_records(catalog)
    keep = list(SIDE_COLS)
    both = records.select(*keep).unionByName(cat.select(*keep))

    keys = generate_blocking_keys(both, cfg)
    pairs, dropped = generate_pairs(keys, cfg)
    is_cat_a = F.col("conv_id_a").startswith(CAT_PREFIX)
    is_cat_b = F.col("conv_id_b").startswith(CAT_PREFIX)
    cross = pairs.where(is_cat_a != is_cat_b).select(
        # explicit role orientation: probe -> a, catalog -> b
        F.when(is_cat_a, F.col("conv_id_b")).otherwise(F.col("conv_id_a")).alias("conv_id_a"),
        F.when(is_cat_a, F.col("conv_id_a")).otherwise(F.col("conv_id_b")).alias("conv_id_b"),
        "strategy", "pass", "block_key",
    )
    # per-probe candidate cap — the set-oriented LIMIT 100 of
    # sql/findByName.sql:10, applied to fuzzy-name candidates only (identifier
    # hits are exact and never capped in the reference either)
    cross = cap_candidates_per_probe(cross, cfg)
    scored = score_pairs(both, cross, cfg, dup_source_pairs=pairs)
    out = scored.withColumn(
        "entity_id",
        # try_cast: under ANSI mode a plain cast can be project-pushed below
        # the probe/catalog filter and evaluated on rows the filter drops
        F.regexp_replace("conv_id_b", f"^{CAT_PREFIX}", "").try_cast("bigint"),
    ).withColumnRenamed("conv_id_a", "probe_conv_id")
    # I14 — ORPHANED_LOCATION_RECORD (DiscrepancyDetector.java:324-333).
    # No broadcast hint: this projection scales with the catalog (data-sized);
    # AQE broadcasts it automatically whenever it is genuinely small.
    loc = catalog.select(
        "entity_id",
        ((F.coalesce("record_type", F.lit("MAIN")) == "LOCATION")
         & F.col("parent_customer_id").isNull()).alias("is_orphan_location"),
    )
    out = out.join(loc, "entity_id", "left")
    orphan = F.struct(F.lit("ORPHANED_LOCATION_RECORD").alias("type"),
                      F.lit("MEDIUM").alias("severity"))
    out = out.withColumn(
        "discrepancies",
        F.when(
            F.coalesce("is_orphan_location", F.lit(False)),
            F.array_append("discrepancies", orphan),
        ).otherwise(F.col("discrepancies")),
    ).drop("is_orphan_location")
    return out


def find_by_id(catalog: DataFrame, entity_id: int) -> DataFrame:
    """B8 — sql/findById.sql as a plain filter."""
    return catalog.where(F.col("entity_id") == entity_id)
