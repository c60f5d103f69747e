"""Input generator checks (no Spark needed).

    python3 -m pytest erbench/test_inputs.py -q      # from the repository root
"""

import os
import re

import pytest

from erbench import inputs, workloads

# field labels of the extraction regexes (operators/assemble.py)
FIELD_LABELS = (
    "legal name", "entity name", "lender name", "name", "fund manager",
    "investment manager", "asset manager", "advisor", "managed by",
    "advised by", "mei", "member id", "lei", "ein", "tin", "tax id",
    "debt domain id", "dd id", "dba", "doing business as", "trade name",
    "trading as", "country", "jurisdiction", "incorporated in", "address",
    "located in", "contacts", "tax form", "participant", "borrower", "obligor",
)
FIELD_LABEL_RE = re.compile(
    r"\b(?:" + "|".join(re.escape(x) for x in FIELD_LABELS) + r")\b", re.IGNORECASE
)


def _files(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    a = workloads.prepare(name, 7, str(tmp_path / "a"))
    b = workloads.prepare(name, 7, str(tmp_path / "b"))
    c = workloads.prepare(name, 8, str(tmp_path / "c"))
    assert a["turns"] == b["turns"] and a["positives"] == b["positives"]
    assert _files(a["dir"]) == _files(b["dir"])
    assert _files(a["dir"]) != _files(c["dir"])


def test_fillers_carry_no_field_label_digit_or_email():
    import numpy as np

    texts = inputs.filler_texts(np.random.default_rng(3), 500, 300)
    assert all(len(t) >= 300 for t in texts)
    for t in texts:
        assert "@" not in t
        assert not any(ch.isdigit() for ch in t)
        assert FIELD_LABEL_RE.search(t) is None, t


def test_padding_keeps_real_turns_and_appends_fillers():
    transcripts, _ = inputs.corpus(5, 6)
    padded = inputs.pad_transcripts(transcripts, 5, n_fillers=4, min_chars=50)
    assert len(padded) == len(transcripts) + 4 * transcripts["conv_id"].nunique()
    key = ["conv_id", "turn_idx"]
    real = padded.merge(transcripts[key], on=key)
    assert real.sort_values(key).reset_index(drop=True).equals(
        transcripts.sort_values(key).reset_index(drop=True)
    )
    n_real = transcripts.groupby("conv_id")["turn_idx"].max()
    fill = padded.merge(transcripts[key], on=key, how="left", indicator=True)
    fill = fill[fill["_merge"] == "left_only"]
    assert (fill["turn_idx"].to_numpy() > n_real.loc[fill["conv_id"]].to_numpy()).all()


def test_split_deals_each_conversation_to_one_file():
    transcripts, _ = inputs.corpus(5, 6)
    parts = inputs.split_files(transcripts, 4)
    assert sum(len(p) for p in parts) == len(transcripts)
    owners = {}
    for i, p in enumerate(parts):
        for c in p["conv_id"].unique():
            assert owners.setdefault(c, i) == i
