"""The two workloads: what set-up writes, what one timed run does, and the
check every timed run's output must pass.

- ``er_transcripts``: ``plans.pipeline.run_pipeline`` over padded transcripts
  (real turns plus seeded filler turns), written as a handful of parquet
  files. One run = the whole DAG, S1 to S7, into a fresh work dir.
- ``er_incremental``: ``streaming.ingest.incremental_match`` over the corpus
  dealt into ``2 * FILES_PER_PHASE`` files, one file per micro-batch: the
  first half of the files, then ``compact_corpus``, then the second half.
  One run = that whole cycle into a fresh work dir.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext

import pandas as pd
import pyarrow.dataset as ds

from . import inputs, proc

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
BATCH_FILES = 8          # input files of a batch workload
FILES_PER_PHASE = 1      # micro-batches before and after compaction
COMPACT_BUCKETS = 8
F1_FLOOR = 0.85          # for seeds without pinned outputs
STAGES = ("s1_records", "s1_quarantine", "s2_dropped_keys", "s3_dropped_candidates",
          "s3_pairs", "s4_scored", "s6_components", "s7_clusters")

WORKLOADS = {
    "er_transcripts": {"kind": "batch", "families": 60, "fillers": 24,
                       "filler_chars": 300, "warm_families": 8},
    "er_incremental": {"kind": "incremental", "families": 50, "warm_families": 8},
}


# -- set-up --------------------------------------------------------------------

def prepare(name: str, seed: int, out_dir: str, warm: bool = False) -> dict:
    """Generate and write a workload's inputs; returns what a run needs."""
    spec = WORKLOADS[name]
    transcripts, labels = inputs.corpus(seed, spec["warm_families" if warm else "families"])
    if spec.get("fillers"):
        transcripts = inputs.pad_transcripts(
            transcripts, seed, spec["fillers"], spec["filler_chars"]
        )
    if spec["kind"] == "batch":
        n_files = BATCH_FILES
    else:  # the warm-up cycle runs one micro-batch before and one after compaction
        n_files = 2 if warm else 2 * FILES_PER_PHASE
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    sizes = [
        inputs.write_parquet(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))
        for i, part in enumerate(inputs.split_files(transcripts, n_files))
    ]
    return {
        "dir": out_dir,
        "turns": len(transcripts),
        "bytes": sum(sizes),
        "positives": {
            (a, b) for a, b, m in zip(labels["conv_id_a"], labels["conv_id_b"],
                                      labels["is_match"]) if m
        },
    }


# -- one timed run -------------------------------------------------------------

def run_once(spark, name: str, inp: dict, run_dir: str, tracer=None) -> dict:
    if WORKLOADS[name]["kind"] == "batch":
        return _run_batch(spark, inp, run_dir, tracer)
    return _run_incremental(spark, inp, run_dir, tracer)


def _span(tracer, layer: str, **attrs):
    return tracer.span(layer, **attrs) if tracer else nullcontext({})


def _run_batch(spark, inp: dict, run_dir: str, tracer) -> dict:
    from entity_matching_spark.plans.pipeline import run_pipeline

    transcripts = spark.read.schema(TRANSCRIPT_DDL).parquet(inp["dir"])
    with _span(tracer, "pipeline") as root:
        t0, c0 = time.time(), proc.tree_cpu_s()
        result = run_pipeline(spark, transcripts, run_dir, resume=False)
        wall, cpu = time.time() - t0, proc.tree_cpu_s() - c0
    stages = {m["stage"]: m for m in result.metrics}
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "turns": inp["turns"],
        "pairs_scored": stages["s4_scored"]["output_rows"],
        "batch_latency_s": [wall],
        "batch_cpu_s": [cpu],
        "root": root,
        "manifests": stages,
        "run_dir": run_dir,
    }


def _stage_files(src_dir: str, names, dst_dir: str, t0: int):
    # the file source orders files by modification time: pin it
    for i, f in enumerate(names):
        dst = os.path.join(dst_dir, f)
        shutil.copyfile(os.path.join(src_dir, f), dst)
        os.utime(dst, (t0 + i, t0 + i))


def _run_incremental(spark, inp: dict, run_dir: str, tracer) -> dict:
    from entity_matching_spark.streaming.ingest import compact_corpus, incremental_match

    files = sorted(f for f in os.listdir(inp["dir"]) if f.endswith(".parquet"))
    half = len(files) // 2
    in_dir, wd = os.path.join(run_dir, "in"), os.path.join(run_dir, "wd")
    os.makedirs(in_dir)
    mtime0 = 1_700_000_000
    latency: list[list[float]] = []
    batch_cpu: list[float] = []
    compact_s = 0.0
    with _span(tracer, "pipeline") as root:
        t0, c0 = time.time(), proc.tree_cpu_s()
        for phase in range(2):
            names = files[phase * half:(phase + 1) * half]
            _stage_files(inp["dir"], names, in_dir, mtime0 + phase * half)
            with _span(tracer, "ingest", op="stream"):
                c = proc.tree_cpu_s()
                q = incremental_match(spark, in_dir, wd, max_files_per_trigger=1)
                q.awaitTermination()
                c = proc.tree_cpu_s() - c
            if q.exception() is not None:
                raise RuntimeError(f"incremental_match failed: {q.exception()}")
            latency.append([
                p["durationMs"]["triggerExecution"] / 1000.0
                for p in q.recentProgress if p["numInputRows"] > 0
            ])
            batch_cpu.append(c / max(len(latency[-1]), 1))
            if phase == 0:
                tc = time.time()
                with _span(tracer, "ingest", op="compact"):
                    compact_corpus(spark, wd, n_buckets=COMPACT_BUCKETS, prune_raw=True)
                compact_s = time.time() - tc
        wall, cpu = time.time() - t0, proc.tree_cpu_s() - c0
    matches = _read(os.path.join(wd, "matches"))
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "turns": inp["turns"],
        "pairs_scored": len(matches),
        "batch_latency_s": latency[0] + latency[1],
        "batch_cpu_s": batch_cpu,
        "latency_pre": latency[0],
        "latency_post": latency[1],
        "compact_s": compact_s,
        "root": root,
        "matches": matches,
        "run_dir": run_dir,
        "input_bytes": inp["bytes"],
    }


# -- output check --------------------------------------------------------------

def _read(path: str) -> pd.DataFrame:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def pairwise_f1(cluster_of: dict, positives: set) -> float:
    """Cluster pairwise F1 against the generator's positive pairs, counted as
    tests/test_score_cluster.py::test_pairwise_f1 counts it: every unlabeled
    predicted pair is a false positive."""
    members: dict = {}
    for conv, cl in cluster_of.items():
        members.setdefault(cl, []).append(conv)
    pred = set()
    for ms in members.values():
        ms.sort()
        pred.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1:])
    tp = len(pred & positives)
    fn = len(positives - pred)
    fp = len(pred - positives)
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    return 2 * precision * recall / max(precision + recall, 1e-9)


def _components(edges) -> dict:
    """Union-find over MATCH edges: conv_id -> smallest member."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def digest(name: str, inp: dict, res: dict) -> dict:
    """What a run produced, in the form pinned per workload and seed."""
    if WORKLOADS[name]["kind"] == "batch":
        clusters = _read(os.path.join(res["run_dir"], "s7_clusters"))
        f1 = pairwise_f1(dict(zip(clusters["conv_id"], clusters["cluster_id"])),
                         inp["positives"])
        stages = {s: [res["manifests"][s]["output_rows"], res["manifests"][s]["content_hash"]]
                  for s in STAGES}
        return {"pairwise_f1": round(f1, 6), "stages": stages}
    m = res["matches"]
    edges = m.loc[m["decision"] == "MATCH", ["conv_id_a", "conv_id_b"]].itertuples(index=False)
    f1 = pairwise_f1(_components(edges), inp["positives"])
    canon = m[["conv_id_a", "conv_id_b", "decision", "score", "strategy"]].sort_values(
        ["conv_id_a", "conv_id_b"]).to_json(orient="values", double_precision=15)
    return {
        "pairwise_f1": round(f1, 6),
        "matches": [len(m), hashlib.sha256(canon.encode()).hexdigest()[:16]],
    }


def check(got: dict, pinned: dict | None, first: dict | None) -> list[str]:
    """Mismatches of a run's digest against the pinned digest for its seed (if
    pinned) and against the first timed run of the same process."""
    errors = []
    if got["pairwise_f1"] < F1_FLOOR:
        errors.append(f"pairwise_f1 {got['pairwise_f1']} < {F1_FLOOR}")
    for label, want in (("pinned", pinned), ("first run", first)):
        if want is not None and want != got:
            diff = {k: (got.get(k), want.get(k)) for k in set(got) | set(want)
                    if got.get(k) != want.get(k)}
            errors.append(f"differs from {label}: {json.dumps(diff)[:400]}")
    return errors
