#!/usr/bin/env python
"""spark-submit entrypoint for the record-linkage pipeline.

Cluster usage (north rule: runs via spark-submit --py-files on multi-executor
clusters at N and 4N executors):

    bash tools/build_pyfiles.sh           # -> dist/entity_matching_spark.zip
    spark-submit --py-files dist/entity_matching_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        jobs/run_pipeline.py --input /data/transcripts --out /data/em_run

Local smoke (synthesizes a deterministic corpus when --input is omitted):

    python jobs/run_pipeline.py --out /tmp/em_run --families 200
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local runs: make the repo-root package importable; under spark-submit the
# package arrives via --py-files instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcripts parquet path (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--out", required=True, help="work/checkpoint directory")
    ap.add_argument("--families", type=int, default=200,
                    help="synthetic corpus size when --input is omitted")
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true", help="ignore+overwrite existing checkpoints")
    ap.add_argument("--profile", action="store_true",
                    help="also run the corpus-profiling stages (top-k vocabulary "
                         "+ curation keep/drop funnel) into <out>/profile")
    ap.add_argument("--benchmark", default=None,
                    help="optional benchmark documents parquet (doc_id, text) for "
                         "the contamination screen; no benchmark -> contamination 0")
    ap.add_argument("--vocab-k", type=int, default=100)
    ap.add_argument("--audit-lineage", action="store_true",
                    help="re-read each stage after writing and fail loud if the "
                         "materialized fingerprint differs from the one observed "
                         "during the write (adds one scan per stage; default "
                         "lineage is single-pass)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("entity-matching-pipeline")
    if args.master:
        b = b.master(args.master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # error-site capture costs 3 driver Py4J round trips per DataFrame
        # call (diagnostics only); the scoring plan is deep, so this is a
        # measured ~30% cut of per-job plan-authoring constants
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from entity_matching_spark.config import DEFAULT_CONFIG
    from entity_matching_spark.plans.checkpoint import _fs_write_text_atomic
    from entity_matching_spark.plans.pipeline import run_pipeline

    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        from entity_matching_spark.sources.synth import generate_corpus, transcripts_to_spark

        pdf, _labels = generate_corpus(n_families=args.families)
        transcripts = transcripts_to_spark(spark, pdf)

    t0 = time.time()
    result = run_pipeline(
        spark, transcripts, args.out, DEFAULT_CONFIG,
        resume=not args.no_resume,
        audit_lineage=args.audit_lineage,
    )
    # row counts come from the stage manifests; only the cluster count scans
    rows = {m["stage"]: m["output_rows"] for m in result.metrics}
    summary = {
        "records": rows["s1_records"] - rows["s1_quarantine"],
        "scored_pairs": rows["s4_scored"],
        "clusters": result.clusters.select("cluster_id").distinct().count(),
        "dropped_hot_keys": rows["s2_dropped_keys"],
        "dropped_fuzzy_candidates": rows["s3_dropped_candidates"],
        "wall_sec": round(time.time() - t0, 2),
        "stages": [
            {k: m[k] for k in ("stage", "output_rows", "wall_ms")} for m in result.metrics
        ],
    }

    if args.profile:
        from entity_matching_spark.plans.pipeline import run_profile

        import pyspark.sql.functions as F

        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        prof = run_profile(
            spark, transcripts, os.path.join(args.out, "profile"),
            benchmark=bench, vocab_k=args.vocab_k,
            resume=not args.no_resume,
            audit_lineage=args.audit_lineage,
        )
        kept = prof["curation"].agg(
            F.count("*").alias("docs"),
            F.sum(F.col("kept").cast("int")).alias("kept"),
        ).collect()[0]
        summary["profile"] = {
            "documents": kept["docs"],
            "kept": kept["kept"],
            "vocab_rows": {m["stage"]: m["output_rows"] for m in prof["metrics"]}["p2_vocab"],
            "stages": [
                {k: m[k] for k in ("stage", "output_rows", "wall_ms")}
                for m in prof["metrics"]
            ],
        }
    print(json.dumps(summary))
    _fs_write_text_atomic(spark, os.path.join(args.out, "run_summary.json"),
                          json.dumps(summary, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
