"""Seeded benchmark inputs.

Every input is derived from ``sources.synth.generate_corpus`` output and the
workload seed, then written once as parquet during set-up, so the program
under test only ever sees the generated files. The same seed always gives
byte-identical files (``test_inputs.py``).

- ``pad_transcripts`` appends seeded filler turns to every conversation:
  ordinary deal chatter with no field label, no digit and no ``@``, so field
  extraction finds nothing new in them and the pair set is unchanged, while
  assembly (S1) has to carry the extra text.
- ``split_files`` deals conversations round-robin across files, so the
  records of one family land in different files and later micro-batches
  match against earlier ones.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from entity_matching_spark.sources.synth import generate_corpus

# the transcript schema the pipeline declares (TRANSCRIPT_SCHEMA_DDL); ts is
# written as a UTC instant so Spark reads it as ``timestamp``, not
# ``timestamp_ntz``
SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# Lower-case chatter words. None contains a field label of the extraction
# regexes (operators/assemble.py) or a blocking-relevant token, none is long
# enough to pass for an identifier, and the filler holds no digit and no '@'.
FILLER_WORDS = (
    "the", "team", "will", "review", "schedule", "next", "week", "after",
    "call", "notes", "draft", "terms", "please", "confirm", "timing", "thanks",
    "agreed", "follow", "up", "on", "with", "for", "we", "should", "share",
    "deck", "before", "monday", "meeting", "pricing", "sheet", "looks", "good",
    "from", "our", "side", "can", "you", "send", "latest", "version", "of",
    "slides", "legal", "counsel", "is", "still", "checking", "language",
    "around", "closing", "conditions", "it", "would", "help", "to", "see",
    "comments", "today", "noted", "circulate", "summary", "once", "signed",
    "off", "by", "everyone", "involved", "in", "this", "round",
)

def filler_texts(rng: np.random.Generator, n: int, min_chars: int) -> list[str]:
    """``n`` filler turns of seeded chatter, each at least ``min_chars`` long."""
    out = []
    for _ in range(n):
        words: list[str] = []
        length = 0
        while length < min_chars:
            w = FILLER_WORDS[int(rng.integers(len(FILLER_WORDS)))]
            words.append(w)
            length += len(w) + 1
        out.append(" ".join(words) + ".")
    return out


def pad_transcripts(
    transcripts: pd.DataFrame, seed: int, n_fillers: int, min_chars: int,
    pool: int = 1024,
) -> pd.DataFrame:
    """Append ``n_fillers`` filler turns to every conversation, after its real
    turns, drawn from a seeded pool of ``pool`` filler texts; then shuffle all
    rows with a seeded permutation (assembly must sort by ``turn_idx``)."""
    rng = np.random.default_rng([seed, 1])
    texts = np.array(filler_texts(rng, pool, min_chars), dtype=object)
    last = transcripts.groupby("conv_id").agg(n=("turn_idx", "size"), ts=("ts", "max"))
    step = np.tile(np.arange(n_fillers), len(last))
    fillers = pd.DataFrame({
        "conv_id": np.repeat(last.index.to_numpy(), n_fillers),
        "turn_idx": (np.repeat(last["n"].to_numpy(), n_fillers) + step).astype(np.int32),
        "role": np.where(step % 2 == 0, "user", "assistant"),
        "text": texts[rng.integers(pool, size=len(step))],
        "tool": None,
        "ts": np.repeat(last["ts"].to_numpy(), n_fillers)
        + pd.to_timedelta(7 * (step + 1), unit="s").to_numpy(),
    })
    padded = pd.concat([transcripts, fillers], ignore_index=True)
    perm = rng.permutation(len(padded))
    return padded.iloc[perm].reset_index(drop=True)


def split_files(transcripts: pd.DataFrame, n_files: int) -> list[pd.DataFrame]:
    """Deal conversations round-robin (in conv_id order) across ``n_files``."""
    convs = sorted(transcripts["conv_id"].unique())
    slot = {c: i % n_files for i, c in enumerate(convs)}
    which = transcripts["conv_id"].map(slot)
    return [transcripts[which == f].reset_index(drop=True) for f in range(n_files)]


def write_parquet(transcripts: pd.DataFrame, path: str) -> int:
    """Write one parquet file deterministically; returns its size in bytes."""
    table = pa.Table.from_pandas(transcripts, schema=SCHEMA, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path)
    return os.path.getsize(path)


def corpus(seed: int, n_families: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(transcripts, labels) for a workload seed."""
    return generate_corpus(n_families=n_families, seed=seed)
