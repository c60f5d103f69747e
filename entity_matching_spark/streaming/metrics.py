"""Watermarked windowed aggregation over streaming transcript arrivals.

Completes the Structured Streaming surface next to foreachBatch ingestion
(streaming/ingest.py) and the custom stateful operators (stateful_assembly,
streaming/dedup.py): the classic watermarked source -> `groupBy(window(...))`
-> append-mode file sink shape, built on the package's one streaming
scaffold (source `ingest._read_stream`, checkpointed sink `ingest._start`),
where APPEND output mode makes the late-data contract explicit —

- a window row is emitted exactly once, only after the event-time watermark
  passes the window end (the window is FINAL — downstream consumers never
  see a count revised);
- late turns are merged into the pending aggregate as long as their
  window's state still exists — INCLUDING rows that arrive in the same
  batch in which the watermark passes the window end (Spark's drop
  guarantee is eviction-based, not a pure timestamp comparison);
- turns arriving after their window was finalized and its state evicted
  are dropped by the engine, bounding state (pinned in
  tests/test_streaming.py::TestWindowedMetrics).

State per key is one partial aggregate row — no per-event state — so the
operator's memory is O(open windows x group cardinality) regardless of
arrival volume: the correct windowed-metrics shape at 10^12-turn scale
(contrast with collecting per-conversation state, which stateful_assembly
reserves for the case that genuinely needs it).

The reference has no streaming at all (SURVEY.md §2 'explicit absences');
this is part of the graft-brief streaming extension.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from .ingest import TRANSCRIPT_DDL, _read_stream, _start


def windowed_turn_metrics(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Per-(event-time window, role) arrival metrics, finalized-only.

    Output rows: (window_start, window_end, role, n_turns, n_convs_approx,
    total_chars). ``slide`` turns the tumbling window into a sliding one.
    Windows still open when the stream idles (availableNow exhaustion) are
    intentionally NOT emitted — append mode trades tail latency for final,
    never-revised rows.
    """
    stream = _read_stream(spark, TRANSCRIPT_DDL, input_path, watermark, max_files_per_trigger)
    agg = (
        stream.groupBy(F.window("ts", window, slide or window), "role")
        .agg(
            F.count("*").alias("n_turns"),
            # exact countDistinct is unsupported in streaming aggregation;
            # the HLL sketch merges per-partition (map-side combinable)
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "role", "n_turns", "n_convs_approx", "total_chars",
        )
    )
    writer = agg.writeStream.format("parquet").option("path", output_path).outputMode("append")
    return _start(writer, checkpoint_path, available_now)
