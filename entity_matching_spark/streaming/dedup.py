"""Online near-duplicate suppression for streaming document arrivals.

Completes the streaming story for the dedup family (the batch operators live
in operators/dedup.py): documents arrive continuously, and each arrival is
checked against the recently-seen corpus ONLINE — a near-duplicate (SimHash
Hamming distance <= ``max_hamming`` to any retained document) is flagged so
the sink can drop it, while fresh documents become retained representatives.

Architecture (one stateful operator per streaming query, the Structured
Streaming constraint that shapes the whole design):

1. stateless per-row 60-bit SimHash (Arrow-batched pandas UDF wrapping
   ``operators.dedup.simhash60_py`` — bit-identical to the batch operator's
   native formulation, pinned by test);
2. stateless explode to the 4 x 15-bit band buckets — the SAME pigeonhole
   blocking as the batch ``simhash_near_dup_pairs``: any pair within Hamming
   distance 3 shares at least one whole band;
3. ``applyInPandasWithState`` keyed on ``(band, bkey)``: each bucket's keyed
   state holds the retained (doc_id, simhash, seen_ms) entries; an arriving
   doc is matched against them with the exact popcount-of-xor test. Entries
   older than ``ttl`` of EVENT time are evicted inline, idle buckets are
   removed wholesale by the event-time timeout, and a ``state_cap`` bounds
   any one bucket's memory (oldest evicted first) — so total state is
   O(docs-per-ttl x 4), never O(corpus);
4. per-band verdicts are OR-combined per document in the sink's foreachBatch
   (a batch-side groupBy — a second stateful streaming operator would be
   needed to do it inside the query, which the state API doesn't chain).

Semantics note: bands decide retention independently (they cannot see each
other's verdicts inside a micro-batch), so a document suppressed via band 0
may still be retained as a representative in band 1's bucket. Later arrivals
can therefore match a suppressed doc rather than its original — transitively
still a near-duplicate chain, the standard online-LSH behavior.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.dedup import SIMHASH_BANDS, _BAND_BITS, _BAND_MASK, simhash60_py
from .ingest import _gap_to_ms, _read_stream, _start, _write_batch

DOC_DDL = "doc_id string, text string, ts timestamp"
_VERDICT_DDL = (
    "doc_id string, band int, bkey bigint, is_dup boolean, "
    "matched_doc string, hamming int"
)
_STATE_DDL = "doc_id array<string>, simhash array<bigint>, seen_ms array<bigint>"


def streaming_simhash_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    max_hamming: int = 3,
    ttl: str = "60 minutes",
    watermark: str = "10 minutes",
    state_cap: int = 10_000,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream ``(doc_id, text, ts)`` files -> per-document dedup verdicts.

    Output table (one row per document, deterministic per-batch partition
    overwrite so micro-batch replays rewrite instead of duplicating):
    ``(doc_id, is_dup, matched_doc, hamming)`` where ``matched_doc`` is the
    closest retained representative (min Hamming, then min doc_id) when
    ``is_dup``.

    Retention: only FRESH documents extend the state — suppressed arrivals
    are not stored, and a representative expires ``ttl`` after its own
    arrival (no refresh-on-match), so an exact duplicate arriving past the
    TTL is treated as fresh. That bounds state by the arrival rate, which is
    what an online filter in front of a 100 TB batch dedup needs; full
    corpus-history dedup is the batch operators' job.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _gap_to_ms(ttl)

    @pandas_udf("long")
    def simhash60(texts: pd.Series) -> pd.Series:
        return texts.map(simhash60_py)

    def dedup_bucket(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # idle bucket: nothing arrived for ttl past the last entry
            state.remove()
            yield pd.DataFrame(
                {c.split()[0]: [] for c in _VERDICT_DDL.split(", ")}
            )
            return
        ids, sigs, seen = (
            (list(state.get[0]), list(state.get[1]), list(state.get[2]))
            if state.exists
            else ([], [], [])
        )
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        # deterministic within-batch order: earlier docs become representatives
        rows = rows.sort_values(["ts", "doc_id"])
        out = {k: [] for k in ("doc_id", "is_dup", "matched_doc", "hamming")}
        last_ms = 0
        for doc_id, sig, ts in zip(rows["doc_id"], rows["simhash"], rows["ts"]):
            t_ms = int(pd.Timestamp(ts).value // 1_000_000)
            last_ms = max(last_ms, t_ms)
            # inline event-time TTL eviction (rows arrive time-sorted)
            while seen and seen[0] < t_ms - ttl_ms:
                ids.pop(0), sigs.pop(0), seen.pop(0)
            sig = int(sig)
            best = None  # (hamming, doc_id) — min tuple is the verdict
            for sid, ssig in zip(ids, sigs):
                h = bin(sig ^ ssig).count("1")
                if h <= max_hamming and (best is None or (h, sid) < best):
                    best = (h, sid)
            out["doc_id"].append(doc_id)
            out["is_dup"].append(best is not None)
            out["matched_doc"].append(best[1] if best else None)
            out["hamming"].append(best[0] if best else None)
            if best is None:
                ids.append(doc_id), sigs.append(sig), seen.append(t_ms)
                if len(ids) > state_cap:  # bounded bucket memory, oldest out
                    ids.pop(0), sigs.pop(0), seen.pop(0)
        if ids:
            state.update((ids, sigs, seen))
            state.setTimeoutTimestamp(
                max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        n = len(out["doc_id"])
        yield pd.DataFrame(
            {
                "doc_id": out["doc_id"],
                "band": [key[0]] * n,
                "bkey": [key[1]] * n,
                "is_dup": out["is_dup"],
                "matched_doc": out["matched_doc"],
                "hamming": pd.array(out["hamming"], dtype="Int32"),
            }
        )

    src = _read_stream(spark, DOC_DDL, input_path, watermark, max_files_per_trigger)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(simhash >> {_BAND_BITS * i}) & {_BAND_MASK}").alias("bkey"),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    keyed = (
        src.withColumn("simhash", simhash60("text"))
        .select("doc_id", "simhash", "ts", F.explode(bands).alias("bb"))
        .select(
            "doc_id", "simhash", "ts",
            F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"),
        )
    )
    verdicts = keyed.groupBy("band", "bkey").applyInPandasWithState(
        dedup_bucket,
        outputStructType=_VERDICT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

    def write_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        # OR over the 4 band verdicts; closest match wins deterministically
        per_doc = (
            batch_df.groupBy("doc_id")
            .agg(
                F.max("is_dup").alias("is_dup"),
                F.min(
                    F.when(F.col("is_dup"), F.struct("hamming", "matched_doc"))
                ).alias("m"),
            )
            .select(
                "doc_id", "is_dup",
                F.col("m.matched_doc").alias("matched_doc"),
                F.col("m.hamming").alias("hamming"),
            )
        )
        _write_batch(per_doc, output_path, batch_id)

    return _start(verdicts.writeStream.foreachBatch(write_batch), checkpoint_path, available_now)
