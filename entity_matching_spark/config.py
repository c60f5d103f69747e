"""Pipeline configuration, including the one reference-fidelity quirk flag.

The reference implementation has several semantic quirks that a faithful
re-implementation must decide on explicitly (see SURVEY.md §4.4). Q1 is a
flag here, with the default replicating the reference arithmetic; the others
(Q2 true Jaro-Winkler similarity, Q3 the lost Debt-Domain boost, Q5/Q6
line-preserving document normalization) are fixed choices, documented at the
sites that apply them (operators/score.py, functions/normalize.build_udfs).
"""

from __future__ import annotations

from dataclasses import dataclass, asdict
import hashlib
import json


@dataclass(frozen=True)
class MatchConfig:
    """All tunables for the record-linkage pipeline.

    Quirk flag (citations into the reference's Java sources):

    - ``penalty_inverted`` (Q1): DiscrepancySeverity penalties are NEGATIVE
      constants (CRITICAL=-25 .. LOW=-5, entity/DiscrepancySeverity.java:7-10)
      while ConfidenceScorer SUBTRACTS their (capped) sum
      (engine/ConfidenceScorer.java:44-46,130-139) — so each discrepancy
      *raises* the reference's final score. Default True replicates that
      arithmetic; False applies the documented intent (penalties reduce score).
    """

    # --- thresholds (orchestrator:192-212)
    match_threshold: float = 85.0
    review_threshold: float = 50.0
    fuzzy_keep_threshold: float = 50.0  # MatchingEngine.java:72

    # --- quirk flag (SURVEY.md §4.4)
    penalty_inverted: bool = True
    # A5: treat the input text as OCR-derived — the per-record OCR-confidence
    # estimate (operators/assemble.ocr_confidence) then multiplies into
    # extraction_confidence (MultiFormatDocumentExtractor.java:30-62).
    # Transcripts are born-digital, so the default is False (multiplier 1.0,
    # exactly the reference's non-OCR path); the ocr_confidence column is
    # emitted either way.
    ocr_text_mode: bool = False

    # --- blocking / skew control (SURVEY.md §4.3.1)
    # which blocking passes run (subset of operators/blocking.BLOCKING_PASSES);
    # production default = all; cheap smoke configs can drop the heavy ones
    blocking_passes: tuple = (
        "mei", "lei", "ein", "debt_domain", "cleanname", "email_domain",
        "nametok", "sorted_neighborhood",
    )
    max_block_size: int = 100          # analog of LIMIT 100 (sql/findByName.sql:10)
    salt_threshold: int = 32           # groups above this use the bucket-pair salted join
    sorted_neighborhood_window: int = 3
    name_token_min_len: int = 3
    salt_buckets: int = 8              # salt fan-out for oversized key groups
    shuffle_partitions: int = 32

    # --- clustering
    include_duplicate_edges: bool = False  # union J1/J2 exact-key edges into S5
    cc_max_iterations: int = 50

    # --- decision / output
    top_k_matches: int = 5             # MatchingEngine.java:153-155
    # per-probe cap on FUZZY_NAME candidates (sql/findByName.sql LIMIT 100);
    # 0 disables. Catalog mode applies it per probe (operators/catalog.py);
    # the batch self-linkage path applies the symmetric variant (a pair is
    # kept if within EITHER endpoint's top-n — both endpoints are probes,
    # operators/blocking.cap_fuzzy_fanout).
    max_candidates_per_probe: int = 100

    def params_hash(self) -> str:
        """Stable hash of the config for checkpoint identity."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = MatchConfig()


# Severity -> penalty constants. NOTE: negative, exactly as the reference
# (entity/DiscrepancySeverity.java:6-11). ConfidenceScorer then does
# score -= min(sum, 50); with negative values the subtraction ADDS (quirk Q1).
SEVERITY_PENALTY = {
    "CRITICAL": -25.0,
    "HIGH": -15.0,
    "MEDIUM": -10.0,
    "LOW": -5.0,
}
