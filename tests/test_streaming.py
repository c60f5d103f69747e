"""Structured Streaming queries (entity_matching_spark/streaming/): stateful
assembly, incremental batch-vs-corpus matching and its compaction, online
dedup and windowed metrics."""

import os

import pytest


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``; returns its result and
    the ids of the jobs it ran."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _corpus_frames(spark):
    """One micro-batch's rows of each incremental_match corpus table."""
    return {
        "records": spark.createDataFrame(
            [("c1", "acme"), ("c2", "acme")], "conv_id string, norm_legal_name string"),
        "keys": spark.createDataFrame(
            [("c1", "mei", "mei:X1"), ("c2", "lei", "lei:Y2")],
            "conv_id string, pass string, key string"),
        "key_counts": spark.createDataFrame(
            [("acme", 2)], "clean_name_key string, n bigint"),
    }


def _raw_corpus(spark, wd, tables=("records", "keys", "key_counts")):
    """A two-batch incremental_match work dir by hand: the same rows in
    ``batch_id=0`` and ``batch_id=1`` of each table, no stream checkpoint.
    Returns the per-table frames."""
    frames = _corpus_frames(spark)
    for table in tables:
        for b in (0, 1):
            frames[table].write.parquet(f"{wd}/{table}/batch_id={b}")
    return frames


class TestStatefulAssembly:
    def test_cross_batch_session_gap(self, spark, tmp_path):
        """applyInPandasWithState: turns of one conversation arriving in
        DIFFERENT micro-batches merge in keyed state; the assembled document
        is emitted only after `gap` of event time passes with no new turn,
        and matches the batch E1 concatenation order."""
        import datetime as dt

        from entity_matching_spark.streaming.ingest import stateful_assembly

        import glob as globmod
        import shutil

        ddl = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

        in_dir = tmp_path / "sin"
        in_dir.mkdir()

        def write_file(rows, name):
            # the streaming file source does not recurse into the directory a
            # DataFrame writer creates — stage then copy the flat part file
            stage = str(tmp_path / "sstage")
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(stage)
            shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / name))

        # file 1: convA turns 0,1 + convB turn 0
        write_file([
            ("convA", 0, "user", "a-zero", None, t0),
            ("convA", 1, "assistant", "a-one", None, t0 + dt.timedelta(minutes=1)),
            ("convB", 0, "user", "b-zero", None, t0 + dt.timedelta(minutes=1)),
        ], "f1.parquet")
        # file 2: convA turn 2 (cross-batch merge for A)
        write_file([
            ("convA", 2, "assistant", "a-two", None, t0 + dt.timedelta(minutes=2)),
        ], "f2.parquet")
        # file 3: watermark pusher far in the future -> A and B time out;
        # convZ itself stays in state (its own timeout is beyond the data)
        write_file([
            ("convZ", 0, "user", "z-zero", None, t0 + dt.timedelta(hours=2)),
        ], "f3.parquet")

        out_dir = str(tmp_path / "sout")
        q = stateful_assembly(
            spark, str(in_dir), out_dir, str(tmp_path / "sck"),
            watermark="10 minutes", gap="5 minutes",
            max_files_per_trigger=1,
        )
        q.awaitTermination(180)

        got = {r["conv_id"]: r for r in spark.read.parquet(out_dir).collect()}
        assert "convA" in got and "convB" in got
        assert got["convA"]["text"] == "a-zero\na-one\na-two"  # cross-batch order
        assert got["convA"]["n_turns"] == 3
        assert got["convB"]["text"] == "b-zero"
        assert "convZ" not in got  # still open: nothing advanced past its gap


class TestIncrementalMatch:
    def test_batch_vs_corpus_matching(self, spark, tmp_path):
        """Stream-static incremental matching: a later-arriving conversation
        must match an earlier batch's record via the persisted corpus keys;
        conversations inside one batch also pair with each other."""
        import datetime as dt
        import glob as globmod
        import shutil

        from entity_matching_spark.streaming.ingest import incremental_match

        ddl = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        in_dir = tmp_path / "min"
        in_dir.mkdir()

        def write_file(rows, name):
            stage = str(tmp_path / "mstage")
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(stage)
            shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / name))

        blurb = "Legal Name: Quiet Timber Works LLC\nMEI: US00000011"
        # batch 1: two conversations sharing the MEI -> intra-batch pair
        write_file([
            ("convA1", 0, "user", blurb, None, t0),
            ("convA2", 0, "user", blurb, None, t0),
        ], "b1.parquet")
        # batch 2: one new conversation with the same MEI -> cross-batch pairs
        write_file([
            ("convB", 0, "user", blurb, None, t0 + dt.timedelta(minutes=1)),
        ], "b2.parquet")

        wd = str(tmp_path / "mwork")
        q = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q.awaitTermination(240)

        matches = spark.read.parquet(wd + "/matches")
        got = {
            tuple(sorted((r["conv_id_a"], r["conv_id_b"]))): r["strategy"]
            for r in matches.collect()
        }
        assert got[("convA1", "convA2")] == "IDENTIFIER"   # intra-batch
        assert got[("convA1", "convB")] == "IDENTIFIER"    # cross-batch
        assert got[("convA2", "convB")] == "IDENTIFIER"
        # corpus accumulated all three assembled records + their keys
        records = spark.read.parquet(wd + "/records")
        assert records.count() == 3
        assert "norm_legal_name" in records.columns
        assert spark.read.parquet(wd + "/keys").select("conv_id").distinct().count() == 3

        # restart with no new input: no duplicate appends (per-batch
        # partition overwrite keeps the tables replay-stable)
        q2 = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q2.awaitTermination(120)
        assert spark.read.parquet(wd + "/records").count() == 3
        assert spark.read.parquet(wd + "/matches").count() == matches.count()

        # I13 state: the clean-name-key counts accumulated incrementally
        # (per-batch deltas), and the cross-batch pair carries the
        # POTENTIAL_DUPLICATE_SHORT_NAME flag that only the ACCUMULATED
        # count (batch-1 corpus + batch-2 arrival) can produce
        kc = spark.read.parquet(wd + "/key_counts")
        import pyspark.sql.functions as F

        total = kc.groupBy("clean_name_key").agg(F.sum("n").alias("n")).collect()
        assert {r["clean_name_key"]: r["n"] for r in total} == {"quiettimberworksllc": 3}
        cross = spark.read.parquet(wd + "/matches").where(
            (F.col("conv_id_a") == "convB") | (F.col("conv_id_b") == "convB")
        )
        flags = {
            d["type"] for r in cross.select("discrepancies").collect() for d in r[0]
        }
        assert "POTENTIAL_DUPLICATE_SHORT_NAME" in flags


class TestStreamingDedup:
    def test_cross_batch_suppression_and_ttl_eviction(self, spark, tmp_path):
        """applyInPandasWithState over SimHash band buckets: a near-duplicate
        arriving in a LATER micro-batch is suppressed against the retained
        representative; a duplicate arriving past the TTL is fresh again
        (state evicted); the streaming per-row SimHash is bit-identical to
        the batch operator."""
        import datetime as dt
        import glob as globmod
        import shutil

        from entity_matching_spark.operators.dedup import (
            simhash60_py, simhash_signatures,
        )
        from entity_matching_spark.streaming.dedup import streaming_simhash_dedup

        ddl = "doc_id string, text string, ts timestamp"
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        in_dir = tmp_path / "din"
        in_dir.mkdir()

        def write_file(rows, name):
            stage = str(tmp_path / "dstage")
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(stage)
            shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / name))

        base = " ".join(f"tok{i}" for i in range(50))
        sig_base = simhash60_py(base)
        near = None  # first single-token variant within Hamming 3 of base
        for i in range(500):
            cand = " ".join(f"tok{j}" for j in range(49)) + f" alt{i}"
            if bin(sig_base ^ simhash60_py(cand)).count("1") <= 3:
                near = cand
                break
        assert near is not None
        other = " ".join(f"zzz{i}" for i in range(50))
        assert bin(sig_base ^ simhash60_py(other)).count("1") > 3

        write_file([("docA", base, t0)], "f1.parquet")
        write_file([
            ("docB", near, t0 + dt.timedelta(minutes=1)),      # near-dup of A
            ("docX", other, t0 + dt.timedelta(minutes=1)),     # fresh
        ], "f2.parquet")
        # past the 60-minute TTL: A's entry is evicted inline, so an EXACT
        # copy of A is fresh again
        write_file([("docC", base, t0 + dt.timedelta(hours=3))], "f3.parquet")

        out_dir = str(tmp_path / "dout")
        q = streaming_simhash_dedup(
            spark, str(in_dir), out_dir, str(tmp_path / "dck"),
            max_hamming=3, ttl="60 minutes", watermark="10 minutes",
            max_files_per_trigger=1,
        )
        q.awaitTermination(240)

        got = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
        assert set(got) == {"docA", "docB", "docX", "docC"}
        assert not got["docA"]["is_dup"]
        assert got["docB"]["is_dup"] and got["docB"]["matched_doc"] == "docA"
        assert got["docB"]["hamming"] <= 3
        assert not got["docX"]["is_dup"]
        assert not got["docC"]["is_dup"]          # TTL-evicted, fresh again

        # streaming scalar SimHash == batch native operator, bit for bit
        docs = spark.createDataFrame(
            [("a", base), ("b", near), ("c", other)], "doc_id string, text string"
        )
        batch_sigs = {
            r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()
        }
        assert batch_sigs == {
            "a": simhash60_py(base), "b": simhash60_py(near), "c": simhash60_py(other)
        }


class TestDurationValidation:
    @pytest.mark.parametrize(
        "duration", ["5 min", "5minutes", "-5 minutes", "5.5 minutes", "5 minutes ago"]
    )
    @pytest.mark.parametrize(
        "module,query,param",
        [("ingest", "stateful_assembly", "gap"), ("dedup", "streaming_simhash_dedup", "ttl")],
    )
    def test_malformed_duration_raises_before_any_query(
        self, spark, tmp_path, module, query, param, duration
    ):
        """A ``gap``/``ttl`` outside ``"<int> second(s)|minute(s)|hour(s)"``
        raises a ValueError naming the accepted forms before any query starts
        (no checkpoint is written)."""
        import importlib

        mod = importlib.import_module(f"entity_matching_spark.streaming.{module}")
        start = getattr(mod, query)
        active = {q.id for q in spark.streams.active}
        ck = tmp_path / "ck"
        with pytest.raises(ValueError, match=r"second\(s\)\|minute\(s\)\|hour\(s\)"):
            start(spark, str(tmp_path / "in"), str(tmp_path / "out"), str(ck),
                  **{param: duration})
        assert not ck.exists()
        assert {q.id for q in spark.streams.active} == active


class TestWindowedMetrics:
    def test_append_mode_finalizes_windows_and_drops_too_late(self, spark, tmp_path):
        """Watermarked windowed agg, append mode: a window emits exactly once
        after the watermark passes its end; a late turn inside the watermark
        is merged before emission; a turn older than the watermark is
        dropped; still-open windows at stream exhaustion are not emitted."""
        import datetime as dt
        import glob as globmod
        import shutil

        from entity_matching_spark.streaming.metrics import windowed_turn_metrics

        ddl = (
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        t = lambda m, s=0: dt.datetime(2026, 1, 1, 10, 0, 0) + dt.timedelta(
            minutes=m, seconds=s
        )
        in_dir = tmp_path / "win"
        in_dir.mkdir()

        def write_file(rows, name):
            stage = str(tmp_path / "wstage")
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            shutil.copy(
                globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / name)
            )

        # W1 = [10:00, 10:05), W2 = [10:05, 10:10) under a 5-minute window
        write_file(
            [
                ("c1", 0, "user", "aaaa", None, t(0)),
                ("c1", 1, "assistant", "bb", None, t(2)),
                ("c2", 0, "user", "cc", None, t(4)),
                ("c2", 1, "user", "d", None, t(6)),  # W2
            ],
            "f1.parquet",
        )
        # batch 2: watermark is now 10:06-10:10 < W1 end, so W1 is still
        # open — the 10:03 'late' turn must be merged into W1. The 10:30
        # turn advances the watermark for batch 3.
        write_file(
            [
                ("c3", 0, "user", "late", None, t(3)),
                ("c9", 0, "user", "x", None, t(30)),
            ],
            "f2.parquet",
        )
        # batch 3: watermark = 10:30 - 10min = 10:20 -> W1 and W2 finalize,
        # emit, and their state is EVICTED. The 11:00 turn advances the
        # watermark to 10:50 for batch 4, which closes the 10:30 window; the
        # 11:00 window itself never closes (stream ends) -> not emitted.
        write_file([("c9", 1, "user", "y", None, t(60))], "f3.parquet")
        # batch 4: W1's state is gone, so this 10:02 turn is genuinely
        # dropped (Spark's drop guarantee is eviction-based: a late row is
        # merged as long as its window state still exists, discarded only
        # after the window was finalized — exactly the contract the operator
        # docstring promises)
        write_file([("c4", 0, "user", "too-late", None, t(2))], "f4.parquet")

        q = windowed_turn_metrics(
            spark, str(in_dir), str(tmp_path / "wout"), str(tmp_path / "wck"),
            window="5 minutes", watermark="10 minutes", max_files_per_trigger=1,
        )
        q.awaitTermination(240)

        rows = spark.read.parquet(str(tmp_path / "wout")).collect()
        got = {(r["window_start"].minute, r["role"]): r for r in rows}
        # W1 + W2 + the 10:30 window; nothing for 11:00 (open at exhaustion)
        assert set(got) == {(0, "user"), (0, "assistant"), (5, "user"), (30, "user")}
        w1_user = got[(0, "user")]
        # c1t0 (10:00) + c2t0 (10:04) + late c3t0 (10:03); too-late c4 absent
        assert w1_user["n_turns"] == 3
        assert w1_user["total_chars"] == len("aaaa") + len("cc") + len("late")
        assert got[(0, "assistant")]["n_turns"] == 1
        assert got[(5, "user")]["n_turns"] == 1
        # windows are final: each (window, role) appears exactly once
        assert len(rows) == len(got)


class TestIncrementalScoringIsBatchSized:
    def test_precomputed_shortname_dup_skips_corpus_window(self, spark):
        """score_pairs with a caller-supplied shortname_dup column must not
        plan the records-wide window (the O(corpus)-shuffle incremental_match
        used to pay per micro-batch) and must honor the supplied flag."""
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.score import SIDE_COLS, score_pairs

        base = {c: None for c in SIDE_COLS}
        rows = []
        for cid in ("c1", "c2"):
            r = dict(base)
            r.update(conv_id=cid, mei="US00000011", legal_name="Acme LLC",
                     norm_legal_name="acme", clean_name_key="acmellc",
                     ein_nohyphen=None, has_tax=False)
            rows.append(r)
        ddl = ("conv_id string, mei string, lei string, ein string, "
               "ein_nohyphen string, debt_domain_id string, email_domain string, "
               "legal_name string, norm_legal_name string, clean_name_key string, "
               "fund_manager string, norm_fund_manager string, dba string, "
               "country_code string, tax_country_code string, "
               "taxform_legal_name string, taxform_ein string, taxform_lei string, "
               "taxform_mei string, taxform_debt_domain_id string, "
               "taxform_country_code string, has_tax boolean, shortname_dup boolean")
        recs = spark.createDataFrame(
            [tuple({**r, "shortname_dup": True}.get(k.split()[0]) for k in ddl.split(", "))
             for r in rows],
            ddl,
        )
        pairs = spark.createDataFrame(
            [("c1", "c2", "IDENTIFIER", "mei", "US00000011")],
            "conv_id_a string, conv_id_b string, strategy string, pass string, block_key string",
        )
        scored = score_pairs(recs, pairs)
        plan = scored._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan  # corpus-wide count window skipped
        row = scored.collect()[0]
        assert "POTENTIAL_DUPLICATE_SHORT_NAME" in {d["type"] for d in row["discrepancies"]}


class TestStreamingDedupValueGate:
    def test_verdicts_match_scalar_simulation(self, spark):
        """Value-level contract for the one rows-only driver query
        (streaming_dedup): replay the driver query's EXACT two-batch arrival
        order (sf0.001 documents, even ids then odd ids, one second of event
        time per id) through a scalar Python simulation of the full stateful
        operator — same simhash60_py signatures, same 4x15-bit band routing,
        same (ts, doc_id) within-bucket order, same TTL eviction / best-match
        (min (hamming, doc_id)) / state-cap retention rules, same
        OR-across-bands + min-struct combine — and assert verdict-for-verdict
        equality. The online greedy retention is order-dependent, so no pure
        SQL oracle exists (CORRECTNESS_r* records rows-only); this pins the
        VALUES instead."""
        import pyarrow.parquet as pq

        import __spark_entry__ as entrymod
        from entity_matching_spark.operators.dedup import (
            SIMHASH_BANDS, _BAND_BITS, _BAND_MASK, simhash60_py,
        )

        sf_dir = "/root/testdata/sf0.001"
        max_hamming, state_cap = 3, 10_000
        ttl_ms = 120 * 3600 * 1000  # q_streaming_dedup's "120 hours"

        tbl = pq.read_table(sf_dir + "/documents.parquet", columns=["doc_id", "text"])
        docs = [
            (str(i), t, int(i) * 1000)  # ts is relative; only ordering + ttl matter
            for i, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        ]
        batches = [
            sorted((d for d in docs if int(d[0]) % 2 == p), key=lambda d: d[2])
            for p in range(2)
        ]

        state: dict = {}
        expected: dict = {}
        for batch in batches:
            per_bucket: dict = {}
            for doc_id, text, ts_ms in batch:
                sig = simhash60_py(text)
                for band in range(SIMHASH_BANDS):
                    bkey = (sig >> (_BAND_BITS * band)) & _BAND_MASK
                    per_bucket.setdefault((band, bkey), []).append((doc_id, sig, ts_ms))
            band_verdicts: dict = {}
            for key, rows in per_bucket.items():
                ids, sigs, seen = state.get(key, ([], [], []))
                rows.sort(key=lambda r: (r[2], r[0]))
                for doc_id, sig, t_ms in rows:
                    while seen and seen[0] < t_ms - ttl_ms:
                        ids.pop(0), sigs.pop(0), seen.pop(0)
                    best = None
                    for sid, ssig in zip(ids, sigs):
                        h = bin(sig ^ ssig).count("1")
                        if h <= max_hamming and (best is None or (h, sid) < best):
                            best = (h, sid)
                    band_verdicts.setdefault(doc_id, []).append(best)
                    if best is None:
                        ids.append(doc_id), sigs.append(sig), seen.append(t_ms)
                        if len(ids) > state_cap:
                            ids.pop(0), sigs.pop(0), seen.pop(0)
                state[key] = (ids, sigs, seen)
            for doc_id, verdicts in band_verdicts.items():
                hits = [v for v in verdicts if v is not None]
                expected[doc_id] = (
                    (True, min(hits)[1], min(hits)[0]) if hits else (False, None, None)
                )

        got = {
            r["doc_id"]: (r["is_dup"], r["matched_doc"], r["hamming"])
            for r in entrymod.q_streaming_dedup(spark, sf_dir).collect()
        }
        assert set(got) == set(expected)
        mismatches = {d: (got[d], expected[d]) for d in got if got[d] != expected[d]}
        assert not mismatches, f"{len(mismatches)} verdict mismatches: " + str(
            dict(list(mismatches.items())[:5])
        )
        assert any(v[0] for v in expected.values())  # the gate exercises real dups


class TestCorpusCompaction:
    def test_compacted_corpus_matches_and_prunes(self, spark, tmp_path):
        """compact_corpus folds the batch_id=* corpus partitions into
        hash-bucketed tables; post-compaction reads (a) return the same
        corpus, (b) PRUNE to only the probed buckets' files, and (c) feed
        incremental_match identically — a conversation arriving after
        compaction still matches the whole compacted corpus, including the
        accumulated I13 key counts."""
        import datetime as dt
        import glob as globmod
        import re
        import shutil

        import pyspark.sql.functions as F

        from entity_matching_spark.streaming.ingest import (
            _compaction_manifest, _read_corpus_table, compact_corpus,
            incremental_match,
        )

        ddl = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        in_dir = tmp_path / "cin"
        in_dir.mkdir()

        def write_file(rows, name):
            stage = str(tmp_path / "cstage")
            spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(stage)
            shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / name))

        blurb = "Legal Name: Quiet Timber Works LLC\nMEI: US00000011"
        write_file([("convA1", 0, "user", blurb, None, t0),
                    ("convA2", 0, "user", blurb, None, t0)], "b1.parquet")
        write_file([("convB", 0, "user", blurb, None,
                     t0 + dt.timedelta(minutes=1))], "b2.parquet")

        wd = str(tmp_path / "cwork")
        q = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q.awaitTermination(240)
        n_keys_before = spark.read.parquet(wd + "/keys").count()
        n_matches_before = spark.read.parquet(wd + "/matches").count()

        stats = compact_corpus(spark, wd, n_buckets=8, prune_raw=True)
        assert stats["keys"]["h"] == 1 and stats["records"]["h"] == 1
        # each table's rows are those of the table it wrote; key_counts is
        # pre-summed to one row per key (its raw deltas hold two rows)
        for table in ("keys", "records", "key_counts"):
            assert stats[table]["rows"] == _read_corpus_table(spark, wd, table, -1).count()
        assert stats["key_counts"]["rows"] == 1
        # raw batch partitions absorbed and pruned
        assert not globmod.glob(wd + "/keys/batch_id=*")
        assert not globmod.glob(wd + "/records/batch_id=*")
        # (a) full read returns the identical corpus
        keys_full = _read_corpus_table(spark, wd, "keys", exclude_batch=-1)
        assert keys_full.count() == n_keys_before
        counts = _read_corpus_table(spark, wd, "key_counts", exclude_batch=-1)
        assert {r["clean_name_key"]: r["n"] for r in counts.collect()} == {
            "quiettimberworksllc": 3
        }

        # (b) bucket pruning: probing ONE key touches ONLY its bucket's files
        kv = keys_full.select("key").first()[0]
        man = _compaction_manifest(spark, wd + "/keys_compacted")
        expected_bucket = spark.createDataFrame([(kv,)], "key string").select(
            F.pmod(F.xxhash64("key"), F.lit(man["n_buckets"])).alias("b")
        ).first()["b"]
        pruned = _read_corpus_table(
            spark, wd, "keys", exclude_batch=-1,
            prune_by=spark.createDataFrame([(kv,)], "key string"),
        )
        pruned_rows = pruned.collect()
        # the isin lands in the scan's PartitionFilters (inputFiles() reports
        # the unpruned leaf relation, so the executed plan is the evidence)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pf = re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan)
        assert pf, f"no bucket PartitionFilters in scan:\n{plan[:2000]}"
        assert str(int(expected_bucket)) in pf.group(1)
        # every surviving row hashes into the probed bucket, and the probed
        # key's rows are all intact — pruning lost nothing it needed
        row_buckets = {
            r["b"]
            for r in spark.createDataFrame(
                [(r["key"],) for r in pruned_rows], "key string"
            ).select(F.pmod(F.xxhash64("key"), F.lit(man["n_buckets"])).alias("b")).collect()
        }
        assert row_buckets == {int(expected_bucket)}, row_buckets
        assert sum(1 for r in pruned_rows if r["key"] == kv) == 3  # nothing lost

        # (c) a post-compaction arrival matches the compacted corpus
        write_file([("convC", 0, "user", blurb, None,
                     t0 + dt.timedelta(minutes=2))], "b3.parquet")
        q2 = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q2.awaitTermination(240)
        matches = spark.read.parquet(wd + "/matches")
        got = {tuple(sorted((r["conv_id_a"], r["conv_id_b"]))): r
               for r in matches.collect()}
        for other in ("convA1", "convA2", "convB"):
            assert got[tuple(sorted(("convC", other)))]["strategy"] == "IDENTIFIER"
        assert matches.count() == n_matches_before + 3
        # I13 used compacted counts (3) + this batch's delta (1)
        cflags = {d["type"]
                  for pair, r in got.items() if "convC" in pair
                  for d in r["discrepancies"]}
        assert "POTENTIAL_DUPLICATE_SHORT_NAME" in cflags

        # re-compaction folds the previous compaction + the new batch
        stats2 = compact_corpus(spark, wd, n_buckets=8, prune_raw=True)
        assert stats2["keys"]["h"] == 2
        assert _read_corpus_table(spark, wd, "records", -1).count() == 4
        assert {r["clean_name_key"]: r["n"]
                for r in _read_corpus_table(spark, wd, "key_counts", -1).collect()
                } == {"quiettimberworksllc": 4}

        # compacting AGAIN with nothing new is a no-op (rewriting the same
        # h= directory would clobber the data the plan lazily reads from)
        stats3 = compact_corpus(spark, wd, n_buckets=8, prune_raw=True)
        assert stats3 == {}
        assert _read_corpus_table(spark, wd, "records", -1).count() == 4

        # SECOND-generation pruning: the re-compacted (h=2) table — previous
        # compacted directory FOLDED with the new raw batch — must still
        # bucket-prune a probe to its bucket's files alone
        pruned2 = _read_corpus_table(
            spark, wd, "keys", exclude_batch=-1,
            prune_by=spark.createDataFrame([(kv,)], "key string"),
        )
        plan2 = pruned2._jdf.queryExecution().executedPlan().toString()
        pf2 = re.search(r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", plan2)
        assert pf2, f"gen-2 compaction lost bucket pruning:\n{plan2[:2000]}"
        assert str(int(expected_bucket)) in pf2.group(1)
        assert sum(1 for r in pruned2.collect() if r["key"] == kv) == 4

        # ...and verdict equality holds across generations: an arrival after
        # the SECOND compaction matches every prior conversation exactly as
        # one after the first did
        write_file([("convD", 0, "user", blurb, None,
                     t0 + dt.timedelta(minutes=3))], "b5.parquet")
        q3 = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q3.awaitTermination(240)
        got2 = {tuple(sorted((r["conv_id_a"], r["conv_id_b"]))): r
                for r in spark.read.parquet(wd + "/matches").collect()}
        for other in ("convA1", "convA2", "convB", "convC"):
            assert got2[tuple(sorted(("convD", other)))]["strategy"] == "IDENTIFIER"
        dflags = {d["type"]
                  for pair, r in got2.items() if "convD" in pair
                  for d in r["discrepancies"]}
        assert "POTENTIAL_DUPLICATE_SHORT_NAME" in dflags

    def test_corpus_reads_with_batch_schema_run_no_job(self, spark, tmp_path):
        """Given the schema of the frame a batch writes, a raw corpus read and
        a compacted one (bucketed ``keys``, unbucketed ``key_counts``) run
        no Spark job, and return the rows and schema of an inferring read."""
        from entity_matching_spark.streaming.ingest import _read_corpus_table, compact_corpus

        wd = str(tmp_path / "swork")
        frames = _raw_corpus(spark, wd, tables=("keys", "key_counts"))

        def check(table):
            pinned, jobs = _jobs_in_group(
                spark, f"corpus-read-{table}",
                lambda: _read_corpus_table(spark, wd, table, 1, schema=frames[table].schema),
            )
            assert jobs == [], table
            inferred = _read_corpus_table(spark, wd, table, 1)
            assert pinned.schema == inferred.schema, (pinned.schema, inferred.schema)
            assert sorted(pinned.collect()) == sorted(inferred.collect())
            return pinned.count()

        assert check("keys") == 2 and check("key_counts") == 1  # raw: batch 0 only
        compact_corpus(spark, wd, n_buckets=4)
        assert check("keys") == 4 and check("key_counts") == 1  # compacted: both

    def test_first_compaction_job_ceiling(self, spark, tmp_path):
        """The first compaction of a two-batch work dir takes its high-water
        mark from the batch directory listing and each table's rows from an
        observation on the frame it writes, so per table it runs only the
        raw read's schema inference and the write: at most 12 jobs for the
        three tables."""
        from entity_matching_spark.streaming.ingest import compact_corpus

        wd = str(tmp_path / "jwork")
        _raw_corpus(spark, wd)
        stats, jobs = _jobs_in_group(
            spark, "first-compaction", lambda: compact_corpus(spark, wd, n_buckets=4)
        )
        assert stats == {"records": {"h": 1, "rows": 4}, "keys": {"h": 1, "rows": 4},
                         "key_counts": {"h": 1, "rows": 1}}
        assert len(jobs) <= 12, jobs

    def test_empty_batches_fold_into_the_next_compaction(self, spark, tmp_path):
        """A batch partition with zero rows is absorbed like any other; a
        table whose whole fold is empty commits nothing (a bucketed write
        of no rows leaves no file to read a schema back from) and keeps its
        raw partitions for the next compaction."""
        import glob

        from entity_matching_spark.streaming.ingest import _read_corpus_table, compact_corpus

        wd = str(tmp_path / "ework")
        keys = _corpus_frames(spark)["keys"]
        keys.limit(0).write.parquet(f"{wd}/keys/batch_id=0")
        assert compact_corpus(spark, wd, n_buckets=4, prune_raw=True) == {}
        assert glob.glob(wd + "/keys/batch_id=0")
        assert not glob.glob(wd + "/keys_compacted/*")

        keys.write.parquet(f"{wd}/keys/batch_id=1")
        keys.limit(0).write.parquet(f"{wd}/keys/batch_id=2")
        stats = compact_corpus(spark, wd, n_buckets=4, prune_raw=True)
        assert stats == {"keys": {"h": 2, "rows": 2}}
        assert not glob.glob(wd + "/keys/batch_id=*")  # all three absorbed
        assert _read_corpus_table(spark, wd, "keys", -1).count() == 2

    @pytest.mark.parametrize("via", ["compact_corpus", "cli"])
    @pytest.mark.parametrize("n_buckets", [0, -1])
    def test_bucket_count_below_one_raises_before_any_check(
        self, spark, tmp_path, n_buckets, via
    ):
        """``n_buckets < 1`` raises ValueError before the quiesce check (an
        in-flight batch here would raise RuntimeError) and before any read or
        write: no compacted directory appears."""
        import glob
        import sys

        from entity_matching_spark.streaming.ingest import compact_corpus

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import jobs.compact_corpus as cli

        wd = str(tmp_path / "bwork")
        _raw_corpus(spark, wd)
        os.makedirs(wd + "/_stream_checkpoint/offsets")
        with open(wd + "/_stream_checkpoint/offsets/2", "w") as f:
            f.write("v1\n{}")
        with pytest.raises(ValueError, match="n_buckets"):
            if via == "cli":
                cli.main(["--work-dir", wd, "--buckets", str(n_buckets)])
            else:
                compact_corpus(spark, wd, n_buckets=n_buckets)
        assert not glob.glob(wd + "/*_compacted")


class TestCompactCorpusCLI:
    def test_cli_compacts_and_reports(self, spark, tmp_path):
        """jobs/compact_corpus.py drives streaming.ingest.compact_corpus over
        an incremental_match work dir and prints the per-table stats."""
        import datetime as dt
        import glob as globmod
        import json
        import shutil
        import sys

        from entity_matching_spark.streaming.ingest import incremental_match

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import jobs.compact_corpus as cli

        ddl = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        in_dir = tmp_path / "ccin"
        in_dir.mkdir()
        stage = str(tmp_path / "ccstage")
        spark.createDataFrame(
            [("c1", 0, "user", "Legal Name: Oak Mill LLC\nMEI: US00000011", None, t0),
             ("c2", 0, "user", "Legal Name: Oak Mill LLC\nMEI: US00000011", None, t0)],
            ddl,
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(globmod.glob(stage + "/part-*.parquet")[0], str(in_dir / "b1.parquet"))

        wd = str(tmp_path / "ccwork")
        q = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q.awaitTermination(240)

        rc = cli.main(["--work-dir", wd, "--buckets", "4", "--prune-raw"])
        assert rc == 0
        assert not globmod.glob(wd + "/keys/batch_id=*")
        assert json.load(open(wd + "/keys_compacted/MANIFEST.json"))["n_buckets"] == 4


class TestCompactionSafety:
    """Round-5 safety contracts: atomic manifest cutover with recovery, the
    stream-quiesced precondition, and the absorbed-batch replay refusal."""

    def _one_batch_workdir(self, spark, tmp_path, name):
        import datetime as dt
        import glob as globmod
        import shutil

        from entity_matching_spark.streaming.ingest import incremental_match

        ddl = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")
        t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
        in_dir = tmp_path / f"{name}_in"
        in_dir.mkdir()
        stage = str(tmp_path / f"{name}_stage")
        blurb = "Legal Name: Cedar Bend LLC\nMEI: US00000011"
        spark.createDataFrame(
            [("c1", 0, "user", blurb, None, t0),
             ("c2", 0, "user", blurb, None, t0)], ddl,
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(globmod.glob(stage + "/part-*.parquet")[0],
                    str(in_dir / "b1.parquet"))
        wd = str(tmp_path / f"{name}_work")
        q = incremental_match(spark, str(in_dir), wd, max_files_per_trigger=1)
        q.awaitTermination(240)
        return str(in_dir), wd

    def test_manifest_recovery_from_corrupt_pointer(self, spark, tmp_path):
        """A zero/partial MANIFEST.json (crash mid-cutover with a non-atomic
        writer) must not poison corpus reads: _compaction_manifest recovers
        the committed compaction from the per-directory _COMPACTION.json."""
        from entity_matching_spark.streaming.ingest import (
            _compaction_manifest, _read_corpus_table, compact_corpus,
        )

        _, wd = self._one_batch_workdir(spark, tmp_path, "rec")
        compact_corpus(spark, wd, n_buckets=4, prune_raw=True)
        good = _compaction_manifest(spark, wd + "/keys_compacted")
        n = _read_corpus_table(spark, wd, "keys", exclude_batch=-1).count()

        # partial write (truncated json), then a fully missing pointer
        with open(wd + "/keys_compacted/MANIFEST.json", "w") as f:
            f.write('{"h": ')
        assert _compaction_manifest(spark, wd + "/keys_compacted") == good
        import os

        os.remove(wd + "/keys_compacted/MANIFEST.json")
        assert _compaction_manifest(spark, wd + "/keys_compacted") == good
        assert _read_corpus_table(spark, wd, "keys", exclude_batch=-1).count() == n

    def test_torn_pointer_without_inner_copy_fails_loud(self, spark, tmp_path, caplog):
        """A torn MANIFEST.json whose h=* directories carry NO recoverable
        _COMPACTION.json (e.g. written by a pre-atomic release) proves a
        cutover was attempted — raw partitions may already be pruned — so
        treating the corpus as never-compacted would silently match every
        future batch against an empty corpus. Must raise, not return None."""
        import glob
        import os

        import pytest

        from entity_matching_spark.streaming.ingest import _compaction_manifest

        _, wd = self._one_batch_workdir(spark, tmp_path, "torn")
        from entity_matching_spark.streaming.ingest import compact_corpus

        compact_corpus(spark, wd, n_buckets=4, prune_raw=True)
        base = wd + "/keys_compacted"
        with open(base + "/MANIFEST.json", "w") as f:
            f.write('{"h": ')  # torn pointer
        # checksum-corrupt inner copy first: bytes changed behind Hadoop's
        # .crc sidecar (LocalFileSystem is a ChecksumFileSystem, like HDFS),
        # so _fs_read_text raises a Py4J-wrapped ChecksumException — NOT
        # ValueError. Recovery must skip the unreadable copy and still land
        # on the designed fail-loud floor, not propagate an opaque Java
        # error from the path built to heal exactly this crash.
        for inner in glob.glob(base + "/h=*/_COMPACTION.json"):
            with open(inner, "r+") as f:
                f.write("X")  # flip the first byte; .crc now stale
        with pytest.raises(IOError, match="never-compacted"):
            _compaction_manifest(spark, base)
        # the skipped copy is logged with its path and the exception class
        skipped = [r.getMessage() for r in caplog.records if r.levelname == "WARNING"]
        assert any("_COMPACTION.json" in m and "ChecksumException" in m for m in skipped), skipped
        for inner in glob.glob(base + "/h=*/_COMPACTION.json"):
            os.remove(inner)  # old-format directory: no recovery anchor
        with pytest.raises(IOError, match="never-compacted"):
            _compaction_manifest(spark, base)
        # a MISSING pointer with no inner copy stays never-compacted (the
        # cutover provably never happened; raw partitions are intact)
        os.remove(base + "/MANIFEST.json")
        import shutil

        shutil.rmtree(wd + "/records_compacted", ignore_errors=True)
        assert _compaction_manifest(spark, wd + "/records_compacted") is None

    def test_quiesce_recheck_detects_stream_advance(self, spark, tmp_path):
        """An idle-at-entry RUNNING stream looks quiesced (offsets ==
        commits); the pre-cutover recheck must catch a micro-batch that
        committed during the rewrite by comparing offsets snapshots."""
        import pytest

        from entity_matching_spark.streaming.ingest import _assert_stream_quiesced

        _, wd = self._one_batch_workdir(spark, tmp_path, "advance")
        offs = _assert_stream_quiesced(spark, wd)
        assert offs  # at least the one committed batch
        # same snapshot -> recheck passes
        assert _assert_stream_quiesced(spark, wd, expected_offsets=offs) == offs
        # a snapshot taken "before" that batch -> the recheck must abort
        with pytest.raises(RuntimeError, match="advanced during compaction"):
            _assert_stream_quiesced(spark, wd, expected_offsets=set())

    def test_compact_refuses_inflight_batch(self, spark, tmp_path):
        """An offsets entry without a matching commit = a micro-batch died
        mid-flight; compacting over it would absorb a partial partition."""
        import os

        import pytest

        from entity_matching_spark.streaming.ingest import compact_corpus

        _, wd = self._one_batch_workdir(spark, tmp_path, "inflight")
        os.makedirs(wd + "/_stream_checkpoint/offsets", exist_ok=True)
        with open(wd + "/_stream_checkpoint/offsets/1", "w") as f:
            f.write("v1\n{}")
        with pytest.raises(RuntimeError, match="in-flight"):
            compact_corpus(spark, wd, n_buckets=4)

    def test_replayed_absorbed_batch_refused(self, spark, tmp_path):
        """A checkpoint reset against a compacted work_dir replays batch ids
        the compaction already absorbed; process_batch must fail loud
        instead of cross-pairing the batch against its own compacted copy."""
        import shutil

        import pytest

        from entity_matching_spark.streaming.ingest import (
            compact_corpus, incremental_match,
        )

        in_dir, wd = self._one_batch_workdir(spark, tmp_path, "replay")
        compact_corpus(spark, wd, n_buckets=4, prune_raw=True)
        shutil.rmtree(wd + "/_stream_checkpoint")  # the forbidden reset
        q = incremental_match(spark, in_dir, wd, max_files_per_trigger=1)
        with pytest.raises(Exception, match="absorbed by compact_corpus"):
            q.awaitTermination(240)
            raise AssertionError("replayed absorbed batch was not refused")
