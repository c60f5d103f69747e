"""Vectorized similarity kernels: Jaro-Winkler, Levenshtein, token-Jaccard.

The environment has no fuzzy-string library (no rapidfuzz/jellyfish), and the
hot path must not run per-row Python at the Spark boundary — these kernels are
batched numpy over padded codepoint matrices, designed to run inside Arrow
pandas UDFs (SURVEY.md §4.3.3).

Reference parity:
- The reference uses org.apache.commons:commons-text:1.14.0
  ``JaroWinklerDistance.apply`` (engine/FuzzyNameMatcher.java:21,92,127), which
  since commons-text 1.8 returns 1 - similarity while every call site treats
  it as a similarity (quirk Q2, SURVEY.md §4.4). ``jaro_winkler`` here computes
  TRUE similarity with commons-text's matching rules (boost only when
  jaro > 0.7, prefix cap 4, scaling 0.1) — the documented intent
  (system-requirements.md:193-217), not the raw library value.
- Levenshtein is constructed but never called in the reference
  (FuzzyNameMatcher.java:22,27 — dead code, note N1); shipped because the
  north star lists it, and cross-checked against Spark's native
  ``levenshtein()`` in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _encode_padded(strings) -> tuple[np.ndarray, np.ndarray]:
    """list[str] -> (codepoint matrix (n, Lmax) zero-padded, lengths).

    The matrix dtype is the narrowest that fits the batch's codepoints
    (uint8 for the dominant ASCII case) — the inner DP loops are memory-
    bandwidth-bound, and 4x narrower operands is a direct bandwidth cut."""
    n = len(strings)
    lengths = np.fromiter((len(s) for s in strings), count=n, dtype=np.int32)
    lmax = int(lengths.max()) if n else 0
    mat = np.zeros((n, max(lmax, 1)), dtype=np.int32)
    for i, s in enumerate(strings):
        if s:
            mat[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.int32)
    peak = int(mat.max()) if n else 0
    if peak < 256:
        mat = mat.astype(np.uint8)
    elif peak < 65536:
        mat = mat.astype(np.uint16)
    return mat, lengths


def jaro_batch_encoded(enc_a, enc_b) -> np.ndarray:
    """Jaro on pre-encoded (codepoint-matrix, lengths) pairs — lets callers
    that compute many JW values over the same columns encode each column
    once (the encode loop is the only per-row Python in the kernel)."""
    A, la = enc_a
    B, lb = enc_b
    n = A.shape[0]
    if n == 0:
        return np.zeros(0)
    La, Lb = A.shape[1], B.shape[1]

    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    jpos = np.arange(Lb)[None, :]
    b_matched = np.zeros((n, Lb), dtype=bool)
    a_match_j = np.full((n, La), -1, dtype=np.int64)

    for i in range(La):
        active = i < la
        lo = np.maximum(i - window, 0)[:, None]
        hi = np.minimum(i + window + 1, lb)[:, None]
        cand = (
            (B == A[:, i : i + 1])
            & ~b_matched
            & (jpos >= lo)
            & (jpos < hi)
            & active[:, None]
        )
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)
        rows = np.nonzero(has)[0]
        b_matched[rows, j[rows]] = True
        a_match_j[rows, i] = j[rows]

    mask_a = a_match_j >= 0
    m = mask_a.sum(axis=1)

    # Transpositions: k-th matched char of a (in i order) vs k-th matched char
    # of b (in j order); scatter both into rank-indexed matrices and compare.
    max_m = int(m.max()) if n else 0
    if max_m > 0:
        Ma = np.zeros((n, max_m), dtype=np.int32)
        ra, ca = np.nonzero(mask_a)
        rank_a = (np.cumsum(mask_a, axis=1) - 1)[ra, ca]
        Ma[ra, rank_a] = A[ra, ca]

        Mb = np.zeros((n, max_m), dtype=np.int32)
        rb, cb = np.nonzero(b_matched)
        rank_b = (np.cumsum(b_matched, axis=1) - 1)[rb, cb]
        Mb[rb, rank_b] = B[rb, cb]

        kpos = np.arange(max_m)[None, :]
        mismatch = (Ma != Mb) & (kpos < m[:, None])
        t = mismatch.sum(axis=1) // 2
    else:
        t = np.zeros(n, dtype=np.int64)

    with np.errstate(divide="ignore", invalid="ignore"):
        mf = m.astype(np.float64)
        jaro = (mf / la + mf / lb + (mf - t) / mf) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    # Both empty -> 1.0 (commons-text: distance 0 for equal empties)
    jaro = np.where((la == 0) & (lb == 0), 1.0, jaro)
    return jaro


def common_prefix_len_encoded(enc_a, enc_b, cap: int = 4) -> np.ndarray:
    A, la = enc_a
    B, lb = enc_b
    L = min(A.shape[1], B.shape[1], cap)
    if L == 0:
        return np.zeros(A.shape[0], dtype=np.int64)
    minlen = np.minimum(np.minimum(la, lb), L)[:, None]
    pos = np.arange(L)[None, :]
    eq = (A[:, :L] == B[:, :L]) & (pos < minlen)
    # prefix = number of leading equalities
    return np.where(eq, 1, 0).cumprod(axis=1).sum(axis=1)


def encode_strings(strings):
    """Public pre-encode hook for batch callers (None/NaN -> '')."""
    return _encode_padded([s if isinstance(s, str) else "" for s in strings])


def jaro_winkler_encoded(enc_a, enc_b) -> np.ndarray:
    """Jaro-Winkler on pre-encoded columns, commons-text rules."""
    jaro = jaro_batch_encoded(enc_a, enc_b)
    p = common_prefix_len_encoded(enc_a, enc_b)
    return np.where(jaro > 0.7, jaro + 0.1 * p * (1.0 - jaro), jaro)


def jaro_winkler_batch(a_strings, b_strings) -> np.ndarray:
    """Jaro-Winkler similarity, commons-text rules (boost iff jaro > 0.7)."""
    a = ["" if s is None else s for s in a_strings]
    b = ["" if s is None else s for s in b_strings]
    return jaro_winkler_encoded(_encode_padded(a), _encode_padded(b))


def levenshtein_batch(a_strings, b_strings) -> np.ndarray:
    """Edit distance per aligned pair; DP vectorized across the batch.

    O(La*Lb) scalar iterations, each an O(n) numpy op. Memory O(n*Lb).
    """
    a = ["" if s is None else s for s in a_strings]
    b = ["" if s is None else s for s in b_strings]
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    A, la = _encode_padded(a)
    B, lb = _encode_padded(b)
    La, Lb = A.shape[1], B.shape[1]

    result = np.where(la == 0, lb, -1).astype(np.int64)
    prev = np.tile(np.arange(Lb + 1, dtype=np.int64), (n, 1))
    cur = np.empty_like(prev)
    cols = np.arange(n)
    for i in range(1, La + 1):
        cur[:, 0] = i
        ai = A[:, i - 1][:, None]
        sub_cost = (B != ai).astype(np.int64)  # (n, Lb)
        for j in range(1, Lb + 1):
            cur[:, j] = np.minimum(
                np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                prev[:, j - 1] + sub_cost[:, j - 1],
            )
        done = la == i
        if done.any():
            result[done] = cur[cols[done], lb[done]]
        prev, cur = cur, prev
    return result


def token_jaccard_batch(a_strings, b_strings) -> np.ndarray:
    """Whitespace-token Jaccard similarity. Empty-vs-empty -> 1.0."""
    out = np.empty(len(a_strings), dtype=np.float64)
    for k, (x, y) in enumerate(zip(a_strings, b_strings)):
        sx = set(x.split()) if x else set()
        sy = set(y.split()) if y else set()
        if not sx and not sy:
            out[k] = 1.0
        elif not sx or not sy:
            out[k] = 0.0
        else:
            out[k] = len(sx & sy) / len(sx | sy)
    return out


def build_jw_udf():
    """Arrow-batched pandas UDF over ``jaro_winkler_batch`` (defined here so
    the type hints resolve against this module's globals)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(jaro_winkler_batch(a.fillna("").tolist(), b.fillna("").tolist()))

    return jw


# --- scalar references (used by tests as an independent oracle) -------------

def jaro_winkler_scalar(s1: str, s2: str) -> float:
    """Straightforward per-pair implementation, commons-text rules."""
    s1 = s1 or ""
    s2 = s2 or ""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(max(l1, l2) // 2 - 1, 0)
    m2 = [False] * l2
    matches1 = []
    match_j = []
    for i, c in enumerate(s1):
        lo, hi = max(i - window, 0), min(i + window + 1, l2)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m2[j] = True
                matches1.append(c)
                match_j.append(j)
                break
    m = len(matches1)
    if m == 0:
        return 0.0
    matches2 = [s2[j] for j in sorted(match_j)]
    t = sum(1 for x, y in zip(matches1, matches2) if x != y) // 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    p = 0
    for x, y in zip(s1[:4], s2[:4]):
        if x != y:
            break
        p += 1
    return jaro + 0.1 * p * (1 - jaro) if jaro > 0.7 else jaro
