"""The end-to-end record-linkage pipeline driver (S0 -> S7, SURVEY.md §3.4).

One linear DAG, each stage a checkpointed table:

    S0 transcripts  (Iceberg/Parquet scan)
    S1 records      assemble + extract + normalize + type-detect
    S2 keys         multi-pass blocking keys          (derived, not persisted)
    S3 pairs        salted self-join + precedence     [checkpoint]
    S4 scored       similarity + discrepancies + score + decision [checkpoint]
    S5 edges        decision == MATCH                 (derived)
    S6 components   large-star/small-star fixpoint    [checkpoint]
    S7 clusters     all records labeled               [checkpoint]

`run_pipeline` is resumable: pass the same ``work_dir`` and completed stages
(matching config hash + upstream chain) are read back instead of recomputed —
kill the job after S3 and the rerun starts at S4 (pinned by
tests/test_pipeline.py::test_resume_after_pairs). The upstream chain is a
REAL fingerprint: each stage's recorded upstream_hash is derived from the
upstream stages' manifests (params_hash + output_rows + schema + an
order-independent per-row content digest), so re-running any upstream stage
with different output — including a same-cardinality, same-schema recompute
with different values — invalidates everything downstream. Callers with a changing input under a fixed work_dir should pass
``input_fingerprint`` (e.g. an Iceberg snapshot id) so S1 itself re-runs.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, MatchConfig
from ..operators.assemble import build_records
from ..operators.blocking import (
    DUPLICATE_KEY_PASSES, cap_fuzzy_fanout, generate_blocking_keys, generate_pairs,
)
from ..operators.cluster import assign_clusters, connected_components
from ..operators.score import match_edges, score_pairs
from .checkpoint import StageCheckpointer

# Columns persisted for the scored-pairs table (the full join product carries
# every per-side field; the checkpoint keeps the decision-relevant subset —
# ~20 columns instead of ~60, so the 10^12-scale shuffle writes stay lean)
SCORED_COLS = [
    "conv_id_a", "conv_id_b", "strategy", "pass", "block_key",
    "identifier_score", "name_score", "email_boost", "geo_score", "tax_score",
    "multi_id_bonus", "dup_penalty", "discrepancy_penalty", "discrepancies",
    "has_critical", "score", "confidence", "decision",
    "lev_name", "token_jaccard",
]


@dataclass
class PipelineResult:
    records: DataFrame
    pairs: DataFrame
    scored: DataFrame
    components: DataFrame
    clusters: DataFrame
    dropped_keys: DataFrame
    dropped_candidates: DataFrame
    quarantine: DataFrame
    metrics: list


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    work_dir: str,
    config: MatchConfig | None = None,
    resume: bool = True,
    input_fingerprint: str = "",
    audit_lineage: bool = False,
) -> PipelineResult:
    cfg = config or DEFAULT_CONFIG
    ck = StageCheckpointer(
        work_dir, run_id=cfg.params_hash(), audit_lineage=audit_lineage,
        resume=resume, input_fingerprint=input_fingerprint,
    )
    records = ck.stage("s1_records", ["input"], lambda: build_records(transcripts, cfg))

    # L3 analog (orchestrator per-doc error isolation, EntityMatchingOrchestrator
    # .java:140-145): extraction is null-safe so nothing throws; records with NO
    # matchable signal (no identifier, name, or email domain) are quarantined to
    # their own table instead of silently generating useless blocking keys.
    signal_cols = ["mei", "lei", "ein", "debt_domain_id", "email_domain",
                   "legal_name", "clean_name_key"]
    no_signal = None
    for c in signal_cols:
        cond = F.col(c).isNull()
        no_signal = cond if no_signal is None else (no_signal & cond)
    quarantine = ck.stage("s1_quarantine", ["s1_records"], lambda: records.where(no_signal))
    records = records.where(~no_signal)

    side: dict[str, DataFrame] = {}

    def build_pairs():
        # This stage materializes THREE outputs (s2_dropped_keys,
        # s3_dropped_candidates, s3_pairs) from one shared DAG; the
        # localCheckpoints pin the shared prefixes so each write executes
        # its branch once instead of re-running blocking per output. Both
        # checkpoints are bounded by tables the stage persists anyway
        # (keys ~ records x passes, pairs ~ the s3 output itself).
        keys = generate_blocking_keys(records, cfg).localCheckpoint()
        pairs, dropped = generate_pairs(keys, cfg)
        # dropped hot keys are surfaced, never silently discarded
        side["s2_dropped_keys"] = ck.stage("s2_dropped_keys", ["s1_records"], lambda: dropped)
        # per-record fuzzy fan-out cap (LIMIT-100 analog, symmetric form);
        # dropped candidate pairs are surfaced like the hot keys above
        pairs, dropped_cands = cap_fuzzy_fanout(pairs.localCheckpoint(), cfg)
        side["s3_dropped_candidates"] = ck.stage(
            "s3_dropped_candidates", ["s1_records"], lambda: dropped_cands
        )
        return pairs

    pairs = ck.stage("s3_pairs", ["s1_records"], build_pairs)
    scored = ck.stage(
        "s4_scored", ["s1_records", "s3_pairs"],
        lambda: score_pairs(records, pairs, cfg).select(*SCORED_COLS),
    )

    def build_components():
        edges = match_edges(scored)
        if cfg.include_duplicate_edges:
            # union the J1/J2 exact-key duplicate edges (identifier equality +
            # cleaned-short-name equality, engine/DuplicateDetector.java:32-84)
            # into the clustering edge set, so exact duplicates cluster even
            # when their pairwise score lands below the MATCH threshold
            dup_edges = pairs.where(F.col("pass").isin(*DUPLICATE_KEY_PASSES)).select(
                "conv_id_a", "conv_id_b"
            )
            edges = edges.unionByName(dup_edges).distinct()
        return connected_components(edges, cfg)

    # s3_pairs is an explicit upstream: the duplicate-edge union reads it
    components = ck.stage("s6_components", ["s3_pairs", "s4_scored"], build_components)
    clusters = ck.stage(
        "s7_clusters", ["s1_records", "s6_components"],
        lambda: assign_clusters(records.select("conv_id"), components),
    )

    # a resumed s3_pairs skips build_pairs: read its side stages back here
    for name in ("s2_dropped_keys", "s3_dropped_candidates"):
        if name not in side:
            side[name] = ck.read(spark, name)
    return PipelineResult(
        records=records, pairs=pairs, scored=scored, components=components,
        clusters=clusters, dropped_keys=side["s2_dropped_keys"],
        dropped_candidates=side["s3_dropped_candidates"],
        quarantine=quarantine, metrics=ck.metrics(),
    )


def run_profile(
    spark: SparkSession,
    transcripts: DataFrame,
    work_dir: str,
    benchmark: DataFrame | None = None,
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    vocab_k: int = 100,
    pack_chunk_tokens: int = 2048,
    pack_shards: int = 16,
    config: MatchConfig | None = None,
    resume: bool = True,
    input_fingerprint: str = "",
    audit_lineage: bool = False,
) -> dict:
    """Optional corpus-profiling stages — the LLM-data story run end-to-end
    over the SAME transcript corpus the ER pipeline links, with the same
    checkpoint/lineage discipline (one manifest per stage, upstream-hash
    chained, resumable):

    - ``p1_documents``: one document per conversation — the E1-ordered
      (turn_idx, text) concat, the corpus the profiling family operates on;
    - ``p2_vocab``: corpus top-``vocab_k`` vocabulary
      (operators/text.vocab_topk — map-side-combined counts, no global sort);
    - ``p3_curation``: the keep/drop funnel (operators/curate.
      curation_report): quality + repetition + contamination against the
      optional ``benchmark`` documents table (no benchmark -> contamination
      0) + minhash-verified near-dup clustering + deterministic stratified
      sampling (``default_rate=1.0`` keeps everything unless rates are set);
    - ``p4_packing``: the GPT-style sequence-packing manifest
      (operators/curate.pack_documents) over the KEPT documents — where each
      surviving doc lands in the md5-sharded concat-and-chunk token streams.

    Returns {"documents", "vocab", "curation", "packing": DataFrame,
    "metrics": [...]}.
    """
    from ..operators.curate import curation_report
    from ..operators.dedup import minhash_verified_pairs
    from ..operators.text import vocab_topk

    from .checkpoint import _row_hash

    cfg = config or DEFAULT_CONFIG
    # the benchmark table joins the hash by CONTENT (row count + order-free
    # xxhash64 sum), not by presence: with resume=True a changed benchmark
    # must invalidate p3_curation/p4_packing, not silently reuse them.
    # _row_hash sums in decimal — a plain long sum of two 64-bit hashes
    # overflows (and throws under ANSI mode) with coin-flip probability.
    if benchmark is None:
        bench_fp = None
    else:
        brow = benchmark.agg(
            F.count("*").alias("n"),
            F.sum(_row_hash(benchmark.columns)).alias("x"),
        ).first()
        bench_fp = f"{brow['n']}:{brow['x']}"
    # profile knobs join the params hash so changed rates/k/benchmark rebuild
    h = hashlib.sha256(
        json.dumps(
            {
                "params": cfg.params_hash(),
                "rates": sample_rates,
                "default_rate": default_rate,
                "vocab_k": vocab_k,
                "pack": [pack_chunk_tokens, pack_shards],
                "benchmark": bench_fp,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()[:12]
    ck = StageCheckpointer(
        work_dir, run_id=h, audit_lineage=audit_lineage,
        resume=resume, input_fingerprint=input_fingerprint,
    )
    def build_docs():
        turns = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
        return (
            transcripts.groupBy("conv_id").agg(turns.alias("turns"))
            .select(
                F.col("conv_id").alias("doc_id"),
                F.concat_ws("\n", F.transform("turns", lambda t: t["text"])).alias("text"),
                F.lit("transcripts").alias("source"),
            )
        )

    docs = ck.stage("p1_documents", ["input"], build_docs)
    vocab = ck.stage("p2_vocab", ["p1_documents"], lambda: vocab_topk(docs, k=vocab_k))

    def build_curation():
        bench = benchmark if benchmark is not None else docs.limit(0)
        near = minhash_verified_pairs(docs)
        return curation_report(
            docs, bench, near, sample_rates or {}, default_rate=default_rate
        )

    curation = ck.stage("p3_curation", ["p1_documents"], build_curation)

    def build_packing():
        from ..operators.curate import pack_documents

        kept = docs.join(
            curation.where(F.col("kept")).select("doc_id"), "doc_id", "semi"
        )
        return pack_documents(kept, chunk_tokens=pack_chunk_tokens,
                              n_shards=pack_shards)

    packing = ck.stage("p4_packing", ["p1_documents", "p3_curation"], build_packing)
    return {
        "documents": docs,
        "vocab": vocab,
        "curation": curation,
        "packing": packing,
        "metrics": ck.metrics(),
    }
