"""Unit tests for the training-data operators: dedup family
(operators/dedup.py) and text analysis (operators/text.py) on small
deterministic fixtures. The driver oracle (tools/check_oracles.py) covers
cross-engine exactness; these pin the operator semantics directly."""

from collections import Counter

import pyspark.sql.functions as F
import pytest


def _doc_freq(texts, grams):
    """Python document frequency: gram -> number of texts containing it."""
    return Counter(g for t in texts for g in set(grams(t)))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # exact duplicate cluster {1, 2}
        (1, "web", "alpha beta gamma delta epsilon"),
        (2, "web", "alpha beta gamma delta epsilon"),
        # near-dup of 1/2 (inter 4, union 6 -> jaccard 2/3)
        (3, "web", "alpha beta gamma delta zeta"),
        # unrelated doc, same source
        (4, "web", "one two three four five six"),
        # same text as 1 but other source: exact-dup YES, jaccard-blocked NO
        (5, "books", "alpha beta gamma delta epsilon"),
        # stopword-soup doc: every token over the df cap when cap=1
        (6, "web", "the the the"),
    ]
    return spark.createDataFrame(rows, "doc_id int, source string, text string")


class TestDedup:
    def test_exact_duplicates(self, docs):
        from entity_matching_spark.operators.dedup import exact_duplicates

        got = {r["canonical_doc"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
        assert got[1] == 3          # docs 1, 2, 5 share the text
        assert got[3] == 1 and got[4] == 1

    def test_token_jaccard_blocked_by_source(self, docs):
        from entity_matching_spark.operators.dedup import token_jaccard_pairs

        pairs, dropped = token_jaccard_pairs(docs, threshold=0.5, df_cap=50)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
        assert got[(1, 2)] == 1.0
        assert abs(got[(1, 3)] - 2 / 3) < 1e-6
        assert (1, 5) not in got    # cross-source: blocked out
        assert (1, 4) not in got    # no token overlap
        assert dropped.count() == 0

    def test_token_jaccard_df_cap_drops_hot_tokens(self, docs):
        from entity_matching_spark.operators.dedup import token_jaccard_pairs

        # cap=2: tokens in >2 docs of a source (alpha..delta appear in 1,2,3)
        # leave candidate generation; 1-2 still pair via 'epsilon' (df=2),
        # and the dropped profile reports the hot tokens
        pairs, dropped = token_jaccard_pairs(docs, threshold=0.5, df_cap=2)
        got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        assert (1, 2) in got
        hot = {r["tok"] for r in dropped.collect()}
        assert {"alpha", "beta", "gamma", "delta"} <= hot
        assert dropped.columns == ["source", "tok", "df"]
        rows = docs.collect()
        expected = sorted(
            (src, tok, n)
            for src in {r["source"] for r in rows}
            for tok, n in _doc_freq(
                [r["text"] for r in rows if r["source"] == src],
                lambda t: [w for w in t.split(" ") if w],
            ).items()
            if n > 2
        )
        assert sorted(tuple(r) for r in dropped.collect()) == expected

    def test_ngram_jaccard_catches_token_boundary_edits(self, spark):
        from entity_matching_spark.operators.dedup import ngram_jaccard_pairs

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            # same chars, one whitespace edit ("brownfox") — token Jaccard
            # loses both 'brown' and 'fox'; char grams barely move
            (2, "the quick brownfox jumps over the lazy dog"),
            (3, "completely different text with no overlap at all"),
        ]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        pairs, dropped = ngram_jaccard_pairs(docs, n=5, threshold=0.5, df_cap=50)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
        assert (1, 2) in got and got[(1, 2)] > 0.7
        assert all(3 not in p for p in got)
        assert dropped.count() == 0

    def test_ngram_jaccard_df_cap_reports_dropped_grams(self, spark):
        from entity_matching_spark.operators.dedup import ngram_jaccard_pairs

        # cap=2: the 'the quick ' grams (in all three docs) leave candidate
        # generation and are reported; 1-2 still pair via ' brown f...' grams
        texts = ["the quick brown fox", "the quick brown fax", "the quick red hen"]
        docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id int, text string")
        pairs, dropped = ngram_jaccard_pairs(docs, n=5, threshold=0.5, df_cap=2)
        assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(1, 2)}
        assert dropped.columns == ["tok", "df"]
        df = _doc_freq(texts, lambda t: [t[i:i + 5] for i in range(len(t) - 4)])
        assert sorted(tuple(r) for r in dropped.collect()) == sorted(
            (g, n) for g, n in df.items() if n > 2
        )

    def test_ngram_jaccard_short_docs_no_partial_grams(self, spark):
        from entity_matching_spark.operators.dedup import ngram_jaccard_pairs

        # docs shorter than n produce no (partial) grams -> never pair
        docs = spark.createDataFrame(
            [(1, "ab"), (2, "ab"), (3, "abcdefgh"), (4, "abcdefgh")],
            "doc_id int, text string",
        )
        pairs, _ = ngram_jaccard_pairs(docs, n=5, threshold=0.5, df_cap=50)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
        assert got == {(3, 4): 1.0}

    def test_embedding_lsh_pairs_blocked_equals_brute_force_above_threshold(self, spark):
        from entity_matching_spark.operators.dedup import embedding_lsh_pairs

        # clustered fixture: two tight clusters + an orthogonal-ish loner.
        # sign-LSH candidates must recover every within-cluster pair (near-
        # identical vectors share all sign bits -> all bands), and the exact
        # cosine confirm keeps cross-cluster pairs out.
        dim = 8
        base_a = [1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.9, 0.4]
        base_b = [-0.7, 0.9, 0.3, -0.2, -0.8, 0.5, -0.1, 0.6]
        rows = [
            (1, base_a),
            (2, [v * 1.01 + 0.001 for v in base_a]),
            (3, base_b),
            (4, [v * 0.99 - 0.001 for v in base_b]),
            (5, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),
        ]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        pairs, dropped = embedding_lsh_pairs(
            vecs, n_planes=16, rows_per_band=4, threshold=0.95, dim=dim
        )
        got = {(r["vec_a"], r["vec_b"]): r["cos"] for r in pairs.collect()}
        assert set(got) == {(1, 2), (3, 4)}
        assert all(c > 0.99 for c in got.values())
        assert dropped.count() == 0

    def test_embedding_lsh_bucket_cap_reports_dropped(self, spark):
        from entity_matching_spark.operators.dedup import embedding_lsh_pairs

        # identical vectors share every band bucket; cap=2 drops those
        # buckets (4 bands x 3 docs) and the pairs disappear WITH a report
        rows = [(i, [1.0, 0.5, -0.5, 0.25]) for i in range(3)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        pairs, dropped = embedding_lsh_pairs(
            vecs, n_planes=16, rows_per_band=4, threshold=0.5, dim=4, bucket_cap=2
        )
        assert pairs.count() == 0
        assert dropped.columns == ["band", "bkey", "n_docs"]
        d = dropped.collect()
        assert len(d) == 4 and all(r["n_docs"] == 3 for r in d)

    def test_rp_hyperplanes_deterministic(self):
        from entity_matching_spark.operators.dedup import rp_hyperplanes

        a = rp_hyperplanes(4, 16)
        b = rp_hyperplanes(4, 16)
        assert a == b
        assert all(-1.0 <= v < 1.0 for plane in a for v in plane)
        # planes differ from each other (not degenerate)
        assert a[0] != a[1]

    def test_minhash_lsh_finds_near_dups(self, docs):
        from entity_matching_spark.operators.dedup import minhash_lsh_pairs

        got = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
        assert (1, 2) in got and (1, 5) in got   # identical text always collides
        assert (1, 4) not in got                 # disjoint text never collides

    def test_minhash_verified_pairs_confirms_with_exact_jaccard(self, docs):
        """LSH candidates are confirmed by EXACT shingle-set Jaccard: the
        identical-text pairs score 1.0, sub-threshold candidates are cut."""
        from entity_matching_spark.operators.dedup import minhash_verified_pairs

        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_verified_pairs(docs, threshold=0.9).collect()
        }
        assert got[(1, 2)] == 1.0 and got[(1, 5)] == 1.0 and got[(2, 5)] == 1.0
        assert all(v >= 0.9 for v in got.values())

    def test_minhash_empty_docs_do_not_collide(self, spark):
        """Empty/whitespace-only docs must not share a '' shingle signature
        and flood every band bucket (ADVICE r2)."""
        from entity_matching_spark.operators.dedup import minhash_lsh_pairs

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, ""), (4, "real text content here")],
            "doc_id int, text string",
        )
        assert minhash_lsh_pairs(df).count() == 0

    def test_simhash_identical_text_identical_signature(self, docs):
        from entity_matching_spark.operators.dedup import simhash_signatures

        sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        assert sig[1] == sig[2] == sig[5]
        assert sig[1] != sig[4]
        # 60-bit signature: always positive, fits signed BIGINT
        assert all(0 <= v < 2**60 for v in sig.values())

    def test_fingerprints_stable_and_discriminative(self, docs):
        from entity_matching_spark.operators.dedup import fingerprints

        fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
        assert fp[1] == fp[2] == fp[5]
        assert fp[1] != fp[4]

    def test_fingerprints_null_text_emits_no_row(self, spark):
        """Same contract as the original explode formulation: a NULL text
        contributes nothing (no join-inert NULL-fingerprint row)."""
        from entity_matching_spark.operators.dedup import fingerprints

        docs = spark.createDataFrame(
            [(1, "some real document text here"), (2, None)],
            "doc_id int, text string",
        )
        rows = fingerprints(docs).collect()
        assert [r["doc_id"] for r in rows] == [1]
        assert rows[0]["fingerprint"] is not None


class TestSubstringDedup:
    SHARED = ("the quick brown fox jumps over the lazy dog while seventeen "
              "violinists rehearse a brand new concerto in the old cathedral")

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha beta gamma delta " + self.SHARED + " epsilon zeta"),
                (2, "completely different words lead in here " + self.SHARED
                    + " and then diverge again entirely afterwards"),
                (3, "zebra yankee xray whiskey victor uniform tango sierra "
                    "romeo quebec papa oscar november mike lima kilo juliett"),
                (4, None),
            ],
            "doc_id int, text string",
        )

    def test_planted_shared_substring_found_with_correct_span(self, spark):
        """Two docs share one long sentence amid otherwise different text —
        exactly the duplication token-level Jaccard misses (below)."""
        from entity_matching_spark.operators.dedup import substring_duplicate_spans

        docs = self._docs(spark)
        spans, dropped = substring_duplicate_spans(docs, k=16, mod_p=4)
        rows = spans.collect()
        assert dropped.count() == 0
        assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}
        r = rows[0]
        # the reported span must sit INSIDE the planted region of each doc
        # and cover most of it (content-defined selection trims the ends by
        # up to ~mod_p grams on each side)
        a_text, b_text = [x["text"] for x in docs.orderBy("doc_id").collect()[:2]]
        off_a, off_b = a_text.index(self.SHARED) + 1, b_text.index(self.SHARED) + 1
        # the span overlaps the planted region and covers most of it (the
        # match may lawfully run a byte or two past the plant — both docs
        # continue with a space — and selection trims the ends)
        assert r["start_a"] >= off_a - 16 and r["start_a"] <= off_a + 64
        assert r["start_b"] >= off_b - 16 and r["start_b"] <= off_b + 64
        assert r["span_len"] >= int(0.6 * len(self.SHARED))
        # the extracted substrings are byte-identical: the EXACT claim
        assert (a_text[r["start_a"] - 1:r["start_a"] - 1 + r["span_len"]]
                == b_text[r["start_b"] - 1:r["start_b"] - 1 + r["span_len"]])
        assert r["n_grams"] >= 2

    def test_token_jaccard_misses_what_substring_dedup_catches(self, spark):
        """The planted pair sits BELOW the near-dup family's 0.5 Jaccard bar
        (long docs, one shared sentence) — substring dedup is additive
        coverage, not a rename of an existing operator."""
        from entity_matching_spark.operators.dedup import (
            substring_duplicate_spans, token_jaccard_pairs,
        )

        filler_a = " ".join(f"worda{i}" for i in range(120))
        filler_b = " ".join(f"wordb{i}" for i in range(120))
        docs = spark.createDataFrame(
            [(1, filler_a + " " + self.SHARED, "src"),
             (2, filler_b + " " + self.SHARED, "src")],
            "doc_id int, text string, source string",
        )
        jac, _ = token_jaccard_pairs(docs, threshold=0.5)
        assert jac.count() == 0
        spans, _ = substring_duplicate_spans(docs, k=16, mod_p=4)
        assert spans.count() >= 1

    def test_boilerplate_cap_reports_dropped_grams(self, spark):
        """A gram shared by more docs than the cap is excluded from pairing
        and surfaced in the dropped report — never a silent hot-key join."""
        from entity_matching_spark.operators.dedup import substring_duplicate_spans

        boiler = "standard license header text that every file carries along"
        docs = spark.createDataFrame(
            [(i, f"unique lead {i} " + boiler) for i in range(8)],
            "doc_id int, text string",
        )
        spans, dropped = substring_duplicate_spans(
            docs, k=16, mod_p=2, max_docs_per_gram=4
        )
        assert dropped.columns == ["h", "n_docs"]
        assert dropped.count() > 0
        assert all(r["n_docs"] > 4 for r in dropped.collect())
        assert spans.count() == 0  # every shared gram is above the cap

    def test_null_and_short_texts_contribute_nothing(self, spark):
        from entity_matching_spark.operators.dedup import substring_duplicate_spans

        docs = spark.createDataFrame(
            [(1, None), (2, "short"), (3, "short")],
            "doc_id int, text string",
        )
        spans, dropped = substring_duplicate_spans(docs, k=16, mod_p=2)
        assert spans.count() == 0 and dropped.count() == 0

    def test_templated_text_islands_are_exact_confirmed(self, spark):
        """Two selected grams on one diagonal only prove k bytes each — the
        gap between them is unverified, so templated text (static fragments
        around equal-width variable fields) can form FALSE islands. The
        exact-confirm step (verify=True, default) must reject any span whose
        full substrings differ, and every surviving span must extract
        byte-identical text."""
        from entity_matching_spark.operators.dedup import substring_duplicate_spans

        # static 40-char head/tail around a 12-char variable middle: the
        # head and tail are long enough to guarantee selected grams in both
        # docs at the same diagonal, the middles differ
        head = "STATIC HEADER FRAGMENT ALPHA BETA GAMMA "
        tail = " STATIC FOOTER FRAGMENT DELTA EPSILON ZT"
        docs = spark.createDataFrame(
            [(1, head + "var=AAAA0001" + tail), (2, head + "var=BBBB0002" + tail)],
            "doc_id int, text string",
        )
        # unverified: the head+tail grams share the diagonal (same offsets in
        # both docs) and max_gap covers the differing middle -> false island
        raw, _ = substring_duplicate_spans(docs, k=16, mod_p=2, verify=False)
        raw_rows = raw.collect()
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert any(
            texts[1][r["start_a"] - 1:r["start_a"] - 1 + r["span_len"]]
            != texts[2][r["start_b"] - 1:r["start_b"] - 1 + r["span_len"]]
            for r in raw_rows
        ), "expected an unconfirmed false island to exist (raises if the test fixture no longer exercises the hazard)"
        # confirmed (default): every span is byte-identical
        conf, _ = substring_duplicate_spans(docs, k=16, mod_p=2)
        for r in conf.collect():
            assert (texts[1][r["start_a"] - 1:r["start_a"] - 1 + r["span_len"]]
                    == texts[2][r["start_b"] - 1:r["start_b"] - 1 + r["span_len"]])

    def test_removal_cuts_later_doc_and_preserves_lengths(self, spark):
        """remove_duplicate_spans splices every span out of the LATER-id doc
        (one copy survives corpus-wide); uninvolved and NULL docs pass
        through; length(in) == length(out) + removed_chars everywhere."""
        from entity_matching_spark.operators.dedup import (
            remove_duplicate_spans, substring_duplicate_spans,
        )

        docs = self._docs(spark)
        spans, _ = substring_duplicate_spans(docs, k=16, mod_p=4)
        out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, spans).collect()}
        orig = {r["doc_id"]: r["text"] for r in docs.collect()}
        assert out[1]["removed_chars"] == 0 and out[1]["text"] == orig[1]
        assert out[2]["removed_chars"] > 0
        assert self.SHARED not in out[2]["text"]  # the duplicate copy is gone
        assert self.SHARED in out[1]["text"]      # the kept copy is intact
        assert out[3]["removed_chars"] == 0 and out[4]["text"] is None
        for d, r in out.items():
            if orig[d] is not None:
                assert len(orig[d]) == len(r["text"]) + r["removed_chars"], d

    def test_spans_match_python_scalar_replay_on_random_corpus(self, spark):
        """Seeded fuzz: the FULL detection recipe (md5 k-gram hashing,
        content-defined 1/mod_p selection, per-doc MIN(pos), df cap, pair
        join, diagonal island merge, exact confirm) replayed scalar in pure
        Python on a random corpus with planted shared sentences and a tiny
        alphabet (many accidental shared grams, exercising the cap). Output
        row sets must be identical — an oracle independent of BOTH Spark and
        DuckDB."""
        import hashlib
        import random
        from collections import defaultdict

        from entity_matching_spark.operators.dedup import substring_duplicate_spans

        K, MODP, GAP, MING, CAP = 16, 4, 64, 2, 10
        rng = random.Random(424242)
        alpha = "abc xyz."
        planted = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(40, 90)))
            for _ in range(4)
        ]
        rows = []
        for d in range(30):
            text = "".join(rng.choice(alpha) for _ in range(rng.randint(60, 220)))
            for pl in planted:
                if rng.random() < 0.25:
                    cut = rng.randint(0, len(text))
                    text = text[:cut] + pl + text[cut:]
            rows.append((d, text))
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        spans_df, dropped_df = substring_duplicate_spans(
            docs, k=K, mod_p=MODP, max_gap=GAP,
            min_grams=MING, max_docs_per_gram=CAP,
        )
        got = sorted(
            (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"],
             r["span_len"], r["n_grams"])
            for r in spans_df.collect()
        )
        got_dropped = sorted(
            (r["h"], r["n_docs"]) for r in dropped_df.collect()
        )

        texts = dict(rows)
        g1: dict = {}
        for d, s in rows:
            for p in range(1, len(s) - K + 2):
                h = hashlib.md5(s[p - 1:p - 1 + K].encode()).hexdigest()
                if int(h[:4], 16) % MODP != 0:
                    continue
                if (d, h) not in g1 or p < g1[(d, h)]:
                    g1[(d, h)] = p
        byh = defaultdict(list)
        for (d, h), p in g1.items():
            byh[h].append((d, p))
        exp_dropped = sorted(
            (h, len(lst)) for h, lst in byh.items() if len(lst) > CAP
        )
        matches = defaultdict(list)
        for h, lst in byh.items():
            if not (2 <= len(lst) <= CAP):
                continue
            for da, pa in lst:
                for db, pb in lst:
                    if da < db:
                        matches[(da, db, pb - pa)].append(pa)
        exp = []
        for (da, db, diag), ps in matches.items():
            ps.sort()
            groups = [[ps[0]]]
            for p in ps[1:]:
                (groups.append([p]) if p - groups[-1][-1] > GAP
                 else groups[-1].append(p))
            for gps in groups:
                if len(gps) < MING:
                    continue
                start_a, span_len = gps[0], gps[-1] + K - gps[0]
                ta, tb = texts[da], texts[db]
                if (ta[start_a - 1:start_a - 1 + span_len]
                        == tb[start_a + diag - 1:start_a + diag - 1 + span_len]):
                    exp.append((da, db, start_a, start_a + diag,
                                span_len, len(gps)))
        assert got == sorted(exp)
        assert exp  # the planted sentences guarantee real spans to compare
        assert got_dropped == exp_dropped

    def test_removal_matches_python_splice_on_random_intervals(self, spark):
        """Seeded fuzz: random overlapping/adjacent/duplicate cut intervals
        vs a pure-Python interval-merge + splice oracle — text, removed_chars
        and n_spans_removed must agree on every doc."""
        import random
        from collections import defaultdict

        from entity_matching_spark.operators.dedup import remove_duplicate_spans

        rng = random.Random(777)
        doc_rows, span_rows = [], []
        for d in range(40):
            n = rng.randint(0, 120)
            doc_rows.append((d, "".join(rng.choice("abcxyz 01") for _ in range(n))))
            for s in range(rng.randint(0, 6)):
                if n < 2:
                    continue
                start = rng.randint(1, n)  # 1-based
                ln = rng.randint(1, n - start + 1)
                span_rows.append((1000 + s, d, 1, start, ln, 2))
        docs = spark.createDataFrame(doc_rows, "doc_id int, text string")
        spans = spark.createDataFrame(
            span_rows,
            "doc_a int, doc_b int, start_a int, start_b int, span_len int, n_grams int",
        )
        got = {r["doc_id"]: r for r in remove_duplicate_spans(docs, spans).collect()}

        cuts = defaultdict(list)
        for _, d, _, st0, ln, _ in span_rows:
            cuts[d].append((st0, st0 + ln))  # 1-based half-open
        for d, text in doc_rows:
            merged: list = []
            for cs, ce in sorted(cuts.get(d, [])):
                if merged and cs <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], ce)
                else:
                    merged.append([cs, ce])
            pieces, prev = [], 1
            for cs, ce in merged:
                pieces.append(text[prev - 1:cs - 1])
                prev = ce
            pieces.append(text[prev - 1:])
            r = got[d]
            assert r["text"] == "".join(pieces), d
            assert r["removed_chars"] == sum(ce - cs for cs, ce in merged), d
            assert r["n_spans_removed"] == len(merged), d

    def test_removal_merges_overlapping_cuts(self, spark):
        """A doc cut by several doc_a partners gets ONE merged splice per
        overlapping region — duplicate/overlapping intervals must never
        double-remove or split islands (the tie-order hazard the operator
        docstring documents)."""
        from entity_matching_spark.operators.dedup import remove_duplicate_spans

        docs = spark.createDataFrame(
            [(9, "0123456789abcdefghijklmnopqrstuvwxyz")],
            "doc_id int, text string",
        )
        # three overlapping + one duplicate cut over [5, 15) and [12, 20)
        spans = spark.createDataFrame(
            [(1, 9, 1, 5, 10, 2), (2, 9, 1, 5, 10, 2),
             (3, 9, 1, 8, 7, 2), (4, 9, 1, 12, 8, 2)],
            "doc_a int, doc_b int, start_a int, start_b int, span_len int, n_grams int",
        )
        r = remove_duplicate_spans(docs, spans).collect()[0]
        # merged interval = [5, 20) -> chars '4'..'i' (0-based 4..18) removed
        assert r["text"] == "0123" + "jklmnopqrstuvwxyz"
        assert r["removed_chars"] == 15 and r["n_spans_removed"] == 1


class TestTextOps:
    def test_token_stats(self, spark):
        from entity_matching_spark.operators.text import token_stats

        df = spark.createDataFrame(
            [(1, "hello world 42"), (2, "internationalization!")],
            "doc_id int, text string",
        )
        got = {r["doc_id"]: r for r in token_stats(df).collect()}
        assert got[1]["ws_tokens"] == 3
        # BPE-ish: <=4-letter runs + digits + punct: hell|o wor|ld 42 -> 5
        assert got[1]["bpe_tokens"] == 5
        # 20 letters -> 5 chunks of 4, plus '!'
        assert got[2]["bpe_tokens"] == 6

    def test_quality_scores_ordering(self, spark):
        from entity_matching_spark.operators.text import quality_scores

        good = "the cat sat on the mat and looked at the dog " * 12  # long + stopwords
        bad = "@@@ ### !!! $$$"
        df = spark.createDataFrame([(1, good), (2, bad)], "doc_id int, text string")
        got = {r["doc_id"]: r["quality"] for r in quality_scores(df).collect()}
        assert got[1] > 0.8
        assert got[2] < 0.3

    def test_language_id(self, spark):
        from entity_matching_spark.operators.text import language_id

        df = spark.createDataFrame(
            [
                (1, "the dog is at the door and the cat"),
                (2, "le chat et la porte et les chiens"),
                (3, "der hund und die katze und das haus"),
                (4, "xyzzy plugh"),
            ],
            "doc_id int, text string",
        )
        got = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
        assert got[1] == "en" and got[2] == "fr" and got[3] == "de"
        assert got[4] == "unknown"

    def test_vocab_topk_counts_and_tiebreak(self, spark):
        from entity_matching_spark.operators.text import vocab_topk

        df = spark.createDataFrame(
            [(1, "b b b a a c"), (2, "a z z")], "doc_id int, text string"
        )
        rows = vocab_topk(df, k=3).collect()
        # a:3, b:3 (tie -> 'a' first), z:2
        assert [(r["rank"], r["token"], r["cnt"]) for r in rows] == [
            (1, "a", 3), (2, "b", 3), (3, "z", 2),
        ]

    def test_vocab_topk_plan_is_distributed_topk(self, spark):
        from entity_matching_spark.operators.text import vocab_topk

        df = spark.createDataFrame([(1, "a b a")], "doc_id int, text string")
        plan = vocab_topk(df, k=5)._jdf.queryExecution().executedPlan().toString()
        # per-partition top-k + driver merge, not a global sort shuffle
        assert "TakeOrderedAndProject" in plan


class TestDedupInvariants:
    def test_simhash_token_order_invariant(self, spark):
        """SimHash is computed over the distinct-token SET — permuting the
        words of a document must not change its signature."""
        import random

        from entity_matching_spark.operators.dedup import simhash_signatures

        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
        rng = random.Random(7)
        perms = []
        for i in range(4):
            w = list(words)
            rng.shuffle(w)
            perms.append((i, " ".join(w)))
        df = spark.createDataFrame(perms, "doc_id int, text string")
        sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
        assert len(set(sigs.values())) == 1

    def test_minhash_row_order_invariant(self, spark, docs):
        """The LSH pair set must not depend on input row order."""
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.dedup import minhash_lsh_pairs

        fwd = {tuple(r) for r in minhash_lsh_pairs(docs).collect()}
        rev = {tuple(r) for r in minhash_lsh_pairs(docs.orderBy(F.desc("doc_id"))).collect()}
        assert fwd == rev and fwd

    def test_exact_dup_partitions_corpus(self, spark, docs):
        """Every document lands in exactly one hash group: copy counts sum
        to the corpus size."""
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.dedup import exact_duplicates

        agg = exact_duplicates(docs).agg(F.sum("n_copies").alias("s")).collect()[0]
        assert agg["s"] == docs.count()

    def test_simhash_pairs_exact_vs_brute_force(self, spark, docs):
        """Pigeonhole guarantee: at max_hamming=3 the 15-bit-band candidates
        contain EVERY qualifying pair — the blocked operator must equal the
        brute-force popcount over all signature pairs."""
        from entity_matching_spark.operators.dedup import (
            simhash_near_dup_pairs, simhash_signatures,
        )

        sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
        ids = sorted(sigs)
        brute = {
            (a, b): bin(sigs[a] ^ sigs[b]).count("1")
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        pairs, dropped = simhash_near_dup_pairs(docs, max_hamming=3, bucket_cap=None)
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
        assert dropped.count() == 0  # exact mode never drops
        assert got == brute
        assert got[(1, 2)] == 0 and got[(1, 5)] == 0  # identical text

    def test_simhash_pairs_bucket_cap_reports_dropped(self, spark):
        """A hot band bucket over the cap is excluded from the candidate
        join AND surfaced in the dropped-buckets frame — never silent."""
        from entity_matching_spark.operators.dedup import (
            SIMHASH_BANDS, simhash_near_dup_pairs,
        )

        # identical docs share all 4 band buckets; cap=2 < 3 copies drops them
        df = spark.createDataFrame(
            [(i, "same text body here") for i in range(1, 4)] + [(9, "entirely other words")],
            "doc_id int, text string",
        )
        pairs, dropped = simhash_near_dup_pairs(df, max_hamming=3, bucket_cap=2)
        assert pairs.count() == 0
        assert dropped.columns == ["band", "bkey", "n_docs"]
        d = dropped.collect()
        assert len(d) == SIMHASH_BANDS and all(r["n_docs"] == 3 for r in d)
        # cap above the bucket size: all three identical-doc pairs come back
        pairs2, dropped2 = simhash_near_dup_pairs(df, max_hamming=3, bucket_cap=3)
        assert pairs2.count() == 3 and dropped2.count() == 0


class TestMultimodalFrames:
    def test_frame_sampling_shape(self, spark):
        """One-to-many mapInPandas: per-payload frame rows at fixed strides,
        short tails kept, null payloads skipped."""
        import hashlib

        from entity_matching_spark.operators.multimodal import sample_frames

        payload = bytes(range(200))  # 200 bytes -> offsets 0, 64, 128, 192
        df = spark.createDataFrame(
            [(1, bytearray(payload)), (2, None)], "doc_id long, payload binary"
        )
        rows = sorted(
            sample_frames(df, frame_size=32, stride=64, max_frames=8).collect(),
            key=lambda r: r["frame_idx"],
        )
        assert [r["doc_id"] for r in rows] == [1, 1, 1, 1]  # null payload skipped
        assert [r["frame_offset"] for r in rows] == [0, 64, 128, 192]
        assert [r["frame_bytes"] for r in rows] == [32, 32, 32, 8]  # tail short
        assert rows[0]["frame_hash"] == hashlib.md5(payload[0:32]).hexdigest()
        assert rows[3]["frame_hash"] == hashlib.md5(payload[192:200]).hexdigest()

    def test_video_decoder_stubbed(self, spark):
        import pytest as _pytest

        from entity_matching_spark.operators.multimodal import sample_frames

        df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
        with _pytest.raises(NotImplementedError):
            sample_frames(df, decoder="video")
