"""Per-layer metrics of a traced run: which entry points get spans, how the
folded spans and Spark task metrics become the ``per_layer`` metrics of
BENCHMARK.json, and the replay of the similarity kernel."""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import spans
from .workloads import STAGES, WORKLOADS, _read

MB = 1e6
S, COUNT, RATIO = "s", "count", "ratio"
UNITS = {
    "assemble.self_s": S, "assemble.task_s": S, "assemble.udf_s": S,
    "assemble.shuffle_mb": "MB",
    "blocking.self_s": S, "blocking.shuffle_mb": "MB", "blocking.spill_mb": "MB",
    "blocking.task_skew": RATIO, "blocking.pairs": COUNT, "blocking.pair_yield": RATIO,
    "blocking.dropped_keys": COUNT, "blocking.dropped_candidates": COUNT,
    "score.self_s": S, "score.task_s": S, "score.udf_s": S, "score.shuffle_mb": "MB",
    "score.pairs": COUNT,
    "similarity.jw_pairs_per_s": "pairs/s", "similarity.pad_ratio": RATIO,
    "cluster.self_s": S, "cluster.iterations": COUNT, "cluster.jobs": COUNT,
    "checkpoint.self_s": S, "checkpoint.write_s": S, "checkpoint.bytes_mb": "MB",
    "checkpoint.files": COUNT,
    "pipeline.driver_s": S, "pipeline.unattributed_s": S,
    "ingest.self_s": S, "ingest.batch_s_pre_compact": S, "ingest.batch_s_post_compact": S,
    "ingest.post_compact_ratio": RATIO, "ingest.compact_s": S, "ingest.corpus_read_mb": "MB",
    "ingest.write_mb": "MB", "ingest.jobs_per_batch": COUNT,
    "spark.gc_s": S, "spark.jobs": COUNT, "spark.tasks": COUNT, "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.wall_s": S,
}


def instrument(tracer: spans.Tracer, spark, kind: str):
    """Span the public entry points a workload of ``kind`` reaches."""
    import entity_matching_spark.operators.assemble as assemble
    import entity_matching_spark.operators.blocking as blocking
    import entity_matching_spark.operators.score as score
    import entity_matching_spark.plans.checkpoint as checkpoint
    import entity_matching_spark.plans.pipeline as pipeline
    import entity_matching_spark.streaming.ingest as ingest

    if kind == "batch":
        # run_pipeline resolves these names in its own module
        calls = {
            "assemble": ["build_records"],
            "blocking": ["generate_blocking_keys", "generate_pairs", "cap_fuzzy_fanout"],
            "score": ["score_pairs", "match_edges"],
            "cluster": ["connected_components", "assign_clusters"],
        }
        for layer, names in calls.items():
            for name in names:
                tracer.wrap(pipeline, name, layer)
        tracer.wrap(checkpoint.StageCheckpointer, "write", "checkpoint", stage_arg=True)
        tracer.wrap(checkpoint.StageCheckpointer, "read", "checkpoint")
    else:
        # incremental_match imports these from their modules when called
        tracer.wrap(assemble, "build_records", "assemble")
        for name in ("generate_blocking_keys", "generate_pairs", "generate_cross_pairs"):
            tracer.wrap(blocking, name, "blocking")
        tracer.wrap(score, "score_pairs", "score")
        tracer.wrap(ingest, "_read_corpus_table", "ingest")
    # the connected-components fixpoint checkpoints once, then once per round
    tracer.count_calls(type(spark.range(1)), "localCheckpoint")


def run_metrics(name: str, res: dict, tracer: spans.Tracer, jobs: dict,
                tasks: list, arrow_batch: int) -> dict:
    """All per-layer metrics of one traced run."""
    folded = spans.fold_run(res["root"], tracer.spans, jobs, tasks)
    tot = {layer: spans.task_totals(tasks, ids) for layer, ids in folded["layer_jobs"].items()}
    every = spans.task_totals(tasks, [j for ids in folded["layer_jobs"].values() for j in ids])
    empty = spans.task_totals([], [])

    def t(layer):
        return tot.get(layer, empty)

    m = {f"{layer}.self_s": folded["self_s"][layer] for layer in spans.LAYERS}
    m.update({
        "assemble.task_s": t("assemble")["run_s"],
        "assemble.udf_s": t("assemble")["udf_s"],
        "assemble.shuffle_mb": t("assemble")["shuffle_write_b"] / MB,
        "blocking.shuffle_mb": t("blocking")["shuffle_write_b"] / MB,
        "blocking.spill_mb": t("blocking")["spill_b"] / MB,
        "blocking.task_skew": t("blocking")["skew"],
        "score.task_s": t("score")["run_s"],
        "score.udf_s": t("score")["udf_s"],
        "score.shuffle_mb": t("score")["shuffle_write_b"] / MB,
        "cluster.jobs": len(folded["layer_jobs"].get("cluster", [])),
        "pipeline.driver_s": folded["driver_s"],
        "pipeline.unattributed_s": folded["unattributed_s"],
        "spark.gc_s": every["gc_s"],
        "spark.jobs": sum(len(v) for v in folded["layer_jobs"].values()),
        "spark.tasks": every["tasks"],
        "spark.shuffle_mb": every["shuffle_write_b"] / MB,
        "spark.spill_mb": every["spill_b"] / MB,
        "trace.wall_s": folded["wall_s"],
    })
    if WORKLOADS[name]["kind"] == "batch":
        m.update(_batch_metrics(res, tracer))
    else:
        m.update(_incremental_metrics(res, tracer, jobs, tasks))
    m.update(replay_kernel(name, res, arrow_batch))
    assert set(m) == set(UNITS), set(m) ^ set(UNITS)
    return m


def _batch_metrics(res: dict, tracer: spans.Tracer) -> dict:
    man = res["manifests"]
    decisions = _read(os.path.join(res["run_dir"], "s4_scored"))["decision"]
    pairs = man["s3_pairs"]["output_rows"]
    lo, hi = res["root"]["start"], res["root"]["end"]
    writes = [s for s in tracer.spans if s.get("stage") and lo <= s["start"] <= hi]
    checkpoints = sum(1 for layer, name, t in tracer.calls
                      if layer == "cluster" and name == "localCheckpoint" and lo <= t <= hi)
    return {
        "blocking.pairs": pairs,
        "blocking.pair_yield": int(decisions.isin(["MATCH", "MANUAL_REVIEW"]).sum()) / max(pairs, 1),
        "blocking.dropped_keys": man["s2_dropped_keys"]["output_rows"],
        "blocking.dropped_candidates": man["s3_dropped_candidates"]["output_rows"],
        "score.pairs": man["s4_scored"]["output_rows"],
        "cluster.iterations": max(checkpoints - 1, 0),
        "checkpoint.write_s": sum(s["end"] - s["start"] for s in writes),
        "checkpoint.bytes_mb": sum(f["bytes"] for s in STAGES for f in man[s]["files"]) / MB,
        "checkpoint.files": sum(len(man[s]["files"]) for s in STAGES),
        "ingest.batch_s_pre_compact": 0.0,
        "ingest.batch_s_post_compact": 0.0,
        "ingest.post_compact_ratio": 0.0,
        "ingest.compact_s": 0.0,
        "ingest.corpus_read_mb": 0.0,
        "ingest.write_mb": 0.0,
        "ingest.jobs_per_batch": 0.0,
    }


def _incremental_metrics(res: dict, tracer: spans.Tracer, jobs: dict, tasks: list) -> dict:
    root = res["root"]
    streams = [s for s in tracer.spans if s.get("op") == "stream"
               and root["start"] <= s["start"] <= root["end"]]
    batch_jobs = [j["id"] for j in jobs.values() if j["end"] is not None and any(
        s["start"] <= j["start"] <= s["end"] for s in streams)]
    io = spans.task_totals(tasks, batch_jobs)
    n_batches = len(res["batch_latency_s"])
    pre = statistics.median(res["latency_pre"])
    post = statistics.median(res["latency_post"])
    m = res["matches"]
    return {
        "blocking.pairs": len(m),
        "blocking.pair_yield": int(m["decision"].isin(["MATCH", "MANUAL_REVIEW"]).sum()) / max(len(m), 1),
        "blocking.dropped_keys": 0,
        "blocking.dropped_candidates": 0,
        "score.pairs": len(m),
        "cluster.iterations": 0,
        "checkpoint.write_s": 0.0,
        "checkpoint.bytes_mb": 0.0,
        "checkpoint.files": 0,
        "ingest.batch_s_pre_compact": pre,
        "ingest.batch_s_post_compact": post,
        "ingest.post_compact_ratio": post / pre,
        "ingest.compact_s": res["compact_s"],
        # input bytes the micro-batches read, less the transcript files
        "ingest.corpus_read_mb": max(io["input_b"] - res["input_bytes"], 0) / MB,
        "ingest.write_mb": io["output_b"] / MB,
        "ingest.jobs_per_batch": len(batch_jobs) / max(n_batches, 1),
    }


# -- similarity kernel replay -------------------------------------------------

def _jw_chunks(a: list, b: list, chunk: int) -> tuple[float, float]:
    """Encode + Jaro-Winkler over aligned name lists in Arrow-batch-sized
    chunks; returns (seconds, padded cells / real cells)."""
    from entity_matching_spark.functions.similarity import encode_strings, jaro_winkler_encoded

    padded = real = 0
    t0 = time.perf_counter()
    for i in range(0, len(a), chunk):
        ea, eb = encode_strings(a[i:i + chunk]), encode_strings(b[i:i + chunk])
        jaro_winkler_encoded(ea, eb)
        la, lb = ea[1], eb[1]
        padded += len(la) * int(la.max(initial=0)) * int(lb.max(initial=0))
        real += int(np.dot(la.astype(np.int64), lb.astype(np.int64)))
    return time.perf_counter() - t0, padded / max(real, 1)


def replay_kernel(name: str, res: dict, chunk: int, reps: int = 3) -> dict:
    """Replay the run's real name pairs (pairs joined to records) through the
    kernel in chunks of ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    if WORKLOADS[name]["kind"] == "batch":
        pairs = _read(os.path.join(res["run_dir"], "s3_pairs"))
        records = _read(os.path.join(res["run_dir"], "s1_records"))
    else:
        # compaction moved the first micro-batch's records out of records/
        pairs = res["matches"]
        wd = os.path.join(res["run_dir"], "wd")
        records = pd.concat([
            pq.read_table(f, columns=["conv_id", "norm_legal_name"]).to_pandas()
            for table in ("records", "records_compacted")
            for f in glob.glob(os.path.join(wd, table, "**", "*.parquet"), recursive=True)
        ])
    names = dict(zip(records["conv_id"], records["norm_legal_name"].fillna("")))
    a = [names.get(x, "") for x in pairs["conv_id_a"]]
    b = [names.get(x, "") for x in pairs["conv_id_b"]]
    times, pad = [], 1.0
    for _ in range(reps):
        dt, pad = _jw_chunks(a, b, chunk)
        times.append(dt)
    return {
        "similarity.jw_pairs_per_s": len(a) / max(statistics.median(times), 1e-9),
        "similarity.pad_ratio": pad,
    }


def calibrate_host(n_pairs: int = 20_000, reps: int = 3) -> float:
    """The same kernel on fixed names: pairs/s, host context only."""
    rng = random.Random(42)
    words = ["capital", "global", "fund", "partners", "asset", "mgmt",
             "holdings", "trust", "bank", "advisors", "group", "intl"]
    a = [" ".join(rng.choices(words, k=rng.randint(2, 5))) for _ in range(n_pairs)]
    b = [" ".join(rng.choices(words, k=rng.randint(2, 5))) for _ in range(n_pairs)]
    best = min(_jw_chunks(a, b, 10_000)[0] for _ in range(reps))
    return n_pairs / best
