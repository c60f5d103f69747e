"""Similarity-kernel tests: known values, batch-vs-scalar, property checks."""

import random
import string

import numpy as np
import pytest

from entity_matching_spark.functions.similarity import (
    jaro_winkler_batch,
    jaro_winkler_scalar,
    levenshtein_batch,
    token_jaccard_batch,
)


def lev_naive(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = list(range(lb + 1))
    for i in range(1, la + 1):
        prev_diag, d[0] = d[0], i
        for j in range(1, lb + 1):
            prev_diag, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev_diag + (a[i - 1] != b[j - 1]))
    return d[lb]


KNOWN_JW = [
    # classic Winkler examples
    ("MARTHA", "MARHTA", 0.9611),
    ("DIXON", "DICKSONX", 0.8133),
    ("DWAYNE", "DUANE", 0.84),
    ("JELLYFISH", "SMELLYFISH", 0.8963),  # no common prefix -> plain jaro
    ("abc", "abc", 1.0),
    ("", "", 1.0),
    ("abc", "", 0.0),
]


class TestJaroWinkler:
    @pytest.mark.parametrize("a,b,expected", KNOWN_JW)
    def test_known_values(self, a, b, expected):
        got = jaro_winkler_batch([a], [b])[0]
        assert got == pytest.approx(expected, abs=1e-4)
        assert jaro_winkler_scalar(a, b) == pytest.approx(expected, abs=1e-4)

    def test_batch_matches_scalar_random(self):
        rng = random.Random(42)
        alphabet = string.ascii_lowercase[:6] + " "
        pairs = [
            (
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20))).strip(),
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20))).strip(),
            )
            for _ in range(500)
        ]
        a, b = zip(*pairs)
        batch = jaro_winkler_batch(list(a), list(b))
        for k, (x, y) in enumerate(pairs):
            assert batch[k] == pytest.approx(jaro_winkler_scalar(x, y), abs=1e-12), (x, y)

    def test_symmetry_and_bounds(self):
        rng = random.Random(7)
        words = ["acme capital", "acme capitol", "global tech", "globaltech", "x", ""]
        a = [rng.choice(words) for _ in range(200)]
        b = [rng.choice(words) for _ in range(200)]
        ab = jaro_winkler_batch(a, b)
        ba = jaro_winkler_batch(b, a)
        assert np.allclose(ab, ba)
        assert ((ab >= 0) & (ab <= 1)).all()


class TestLevenshtein:
    @pytest.mark.parametrize("a,b,expected", [
        ("kitten", "sitting", 3),
        ("flaw", "lawn", 2),
        ("", "abc", 3),
        ("abc", "", 3),
        ("", "", 0),
        ("same", "same", 0),
    ])
    def test_known(self, a, b, expected):
        assert levenshtein_batch([a], [b])[0] == expected

    def test_batch_matches_naive_random(self):
        rng = random.Random(13)
        alphabet = "abcd"
        pairs = [
            (
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 15))),
                "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 15))),
            )
            for _ in range(300)
        ]
        a, b = zip(*pairs)
        batch = levenshtein_batch(list(a), list(b))
        for k, (x, y) in enumerate(pairs):
            assert batch[k] == lev_naive(x, y), (x, y)


class TestTokenJaccard:
    def test_basics(self):
        out = token_jaccard_batch(
            ["acme global capital", "", "a b", None],
            ["global acme partners", "", "c d", "x"],
        )
        assert out[0] == pytest.approx(2 / 4)
        assert out[1] == 1.0
        assert out[2] == 0.0
        assert out[3] == 0.0
