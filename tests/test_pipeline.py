"""Pipeline driver tests: checkpoint manifests, resume semantics, config
invalidation, determinism across resume (FIXTURES.md §5.5-5.6)."""

import json
import os

import pytest

from entity_matching_spark.config import MatchConfig
from entity_matching_spark.plans.checkpoint import StageCheckpointer
from entity_matching_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def small_transcripts(spark):
    from entity_matching_spark.sources.synth import generate_corpus, transcripts_to_spark

    t, _ = generate_corpus(n_families=24, chain_families=2, p10_families=2)
    return transcripts_to_spark(spark, t).cache()


class TestCheckpointer:
    def test_manifest_lineage(self, spark, tmp_path):
        """Default (single-pass) mode: metrics observed on the write itself,
        per-file lineage from FS metadata — no data re-read."""
        ck = StageCheckpointer(str(tmp_path), run_id="t")
        df = spark.range(100).withColumnRenamed("id", "x")
        m = ck.write("s_test", df, params_hash="abc", upstream_hash="")
        assert m["status"] == "complete"
        assert m["output_rows"] == 100
        assert m["content_hash"] not in (None, "None", "")
        assert m["files"] and all(f["bytes"] > 0 for f in m["files"])
        assert m["partitions"] == []  # content breakdown is audit-only
        assert ck.is_complete("s_test", "abc")
        assert not ck.is_complete("s_test", "other-hash")
        got = ck.read(spark, "s_test")
        assert got.count() == 100

    def test_audit_mode_partitions_and_hash_parity(self, spark, tmp_path):
        """audit_lineage=True re-reads the materialized stage, records the
        per-partition content breakdown, and must land on the SAME hash the
        single-pass observe computed."""
        df = spark.range(200).selectExpr(
            "id AS x", "lpad(CAST(id % 3 AS STRING), 2, '0') AS part",
            "CAST(id * 7 AS STRING) AS s"
        )
        fast = StageCheckpointer(str(tmp_path / "fast"), run_id="t")
        audit = StageCheckpointer(str(tmp_path / "audit"), run_id="t", audit_lineage=True)
        stage = "s_flat"
        mf = fast.write(stage, df, params_hash="h")
        ma = audit.write(stage, df, params_hash="h")
        assert mf["output_rows"] == ma["output_rows"] == 200
        assert mf["content_hash"] == ma["content_hash"], stage
        assert ma["partitions"] and sum(p["rows"] for p in ma["partitions"]) == 200
        assert str(sum(int(p["content_hash"]) for p in ma["partitions"])) \
            == ma["content_hash"]

    def test_read_back_pins_manifest_schema(self, spark, tmp_path):
        """A stage reads back with the schema its manifest records: neither
        the read after a write nor a resume through a new checkpointer runs
        a Parquet schema-inference job; nested and decimal types and ''
        strings round-trip; metrics() lists only this checkpointer's stages
        even when the work dir holds another one's manifests."""
        from decimal import Decimal

        sc = spark.sparkContext

        def jobs_during(fn):
            group = f"read-back-{id(fn)}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, "read-back")
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            return out, list(sc.statusTracker().getJobIdsForGroup(group))

        def no_rebuild():
            raise AssertionError("a complete stage must resume, not rebuild")

        df = spark.createDataFrame(
            [("", [("k", 1), ("", None)], Decimal("1234567890123456789012345")),
             ("a", [], None)],
            "s string, arr array<struct<k:string,v:int>>, d decimal(25,0)",
        )
        wd = str(tmp_path)
        other = StageCheckpointer(wd, run_id="o")
        other.write("s_other", spark.range(3), params_hash="o")
        ck = StageCheckpointer(wd, run_id="t")
        ck.write("s_mixed", df, params_hash="t")

        fresh, jobs = jobs_during(lambda: ck.read(spark, "s_mixed"))
        assert jobs == []
        ck2 = StageCheckpointer(wd, run_id="t")
        resumed, jobs = jobs_during(lambda: ck2.stage("s_mixed", [], no_rebuild))
        assert jobs == []

        for got in (fresh, resumed):
            assert got.schema == df.schema
            assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
        assert sorted(r["s"] for r in resumed.collect()) == ["", "a"]
        assert [m["stage"] for m in ck.metrics()] == ["s_mixed"]
        assert [m["stage"] for m in ck2.metrics()] == ["s_mixed"]
        assert [m["stage"] for m in other.metrics()] == ["s_other"]

    def test_crash_mid_overwrite_invalidates_manifest(self, spark, tmp_path):
        """Run A commits stage s; run B overwrites s and fails mid-write
        (here: a row that raises). A later run with A's params must not
        resume from the files B clobbered."""
        ck = StageCheckpointer(str(tmp_path), run_id="t")
        ck.write("s", spark.range(10).selectExpr("id AS x", "'a' AS part"),
                 params_hash="h1")
        assert ck.is_complete("s", "h1")
        with pytest.raises(Exception, match="crash mid-write"):
            ck.write("s", spark.range(10).selectExpr(
                "id AS x", "IF(id = 7, raise_error('crash mid-write'), 'b') AS part"),
                params_hash="h2")
        assert not ck.is_complete("s", "h1")
        assert ck.manifest("s") is None

    def test_file_uri_work_dir(self, spark, tmp_path, monkeypatch):
        """A file:// work dir lands manifests in that directory, not in a
        relative ./file: tree under the driver's working directory."""
        cwd = tmp_path / "cwd"
        cwd.mkdir()
        monkeypatch.chdir(cwd)
        work = tmp_path / "work"
        ck = StageCheckpointer("file://" + str(work), run_id="t")
        m = ck.write("s_uri", spark.range(5), params_hash="h")
        assert (work / "s_uri_manifest.json").exists()
        assert m["files"] and all(f["bytes"] > 0 for f in m["files"])
        assert ck.is_complete("s_uri", "h")
        assert [x["stage"] for x in ck.metrics()] == ["s_uri"]
        assert not os.path.exists(cwd / "file:")

    def test_manifest_on_disk(self, spark, tmp_path):
        ck = StageCheckpointer(str(tmp_path), run_id="t")
        ck.write("s_x", spark.range(5), params_hash="h")
        with open(os.path.join(str(tmp_path), "s_x_manifest.json")) as f:
            m = json.load(f)
        assert m["stage"] == "s_x" and m["params_hash"] == "h"


class TestPipelineResume:
    def test_full_run_and_resume(self, spark, small_transcripts, tmp_path):
        wd = str(tmp_path / "run1")
        cfg = MatchConfig()
        r1 = run_pipeline(spark, small_transcripts, wd, cfg)
        clusters1 = sorted(
            (row["conv_id"], row["cluster_id"]) for row in r1.clusters.collect()
        )
        assert len(clusters1) > 0

        # resume with all checkpoints present: stage dirs untouched
        mtimes = {
            s: os.path.getmtime(os.path.join(wd, f"{s}_manifest.json"))
            for s in ["s1_records", "s3_pairs", "s4_scored", "s6_components", "s7_clusters"]
        }
        r2 = run_pipeline(spark, small_transcripts, wd, cfg)
        for s, t in mtimes.items():
            assert os.path.getmtime(os.path.join(wd, f"{s}_manifest.json")) == t, s
        clusters2 = sorted(
            (row["conv_id"], row["cluster_id"]) for row in r2.clusters.collect()
        )
        assert clusters1 == clusters2

    def test_resume_after_pairs(self, spark, small_transcripts, tmp_path):
        """Kill after S3 (simulated: delete downstream checkpoints) — the
        rerun reuses s1/s3 and recomputes s4+ with identical final clusters
        (FIXTURES.md §5.6)."""
        wd = str(tmp_path / "run2")
        cfg = MatchConfig()
        r1 = run_pipeline(spark, small_transcripts, wd, cfg)
        clusters1 = sorted(map(tuple, r1.clusters.select("conv_id", "cluster_id").collect()))

        for s in ["s4_scored", "s6_components", "s7_clusters"]:
            os.remove(os.path.join(wd, f"{s}_manifest.json"))
        t_pairs = os.path.getmtime(os.path.join(wd, "s3_pairs_manifest.json"))

        r2 = run_pipeline(spark, small_transcripts, wd, cfg)
        assert os.path.getmtime(os.path.join(wd, "s3_pairs_manifest.json")) == t_pairs
        clusters2 = sorted(map(tuple, r2.clusters.select("conv_id", "cluster_id").collect()))
        assert clusters1 == clusters2

    def test_config_change_invalidates(self, spark, small_transcripts, tmp_path):
        wd = str(tmp_path / "run3")
        cfg = MatchConfig()
        run_pipeline(spark, small_transcripts, wd, cfg)
        ck = StageCheckpointer(wd)
        up = ck.manifest("s3_pairs")["upstream_hash"]
        h2 = MatchConfig(sorted_neighborhood_window=5).params_hash()
        assert ck.is_complete("s3_pairs", cfg.params_hash(), up)
        assert not ck.is_complete("s3_pairs", h2, up)

    def test_metrics_sidecar(self, spark, small_transcripts, tmp_path):
        wd = str(tmp_path / "run4")
        r = run_pipeline(spark, small_transcripts, wd, MatchConfig())
        stages = {m["stage"] for m in r.metrics}
        assert {"s1_records", "s1_quarantine", "s2_dropped_keys", "s3_pairs",
                "s4_scored", "s6_components", "s7_clusters"} <= stages
        for m in r.metrics:
            assert m["wall_ms"] >= 0 and "partitions" in m


class TestPipelineRound2:
    def test_upstream_fingerprint_chains(self, spark, small_transcripts, tmp_path):
        """The recorded upstream_hash is a REAL fingerprint of the upstream
        manifests: tampering with s1's manifest invalidates s3+ on resume."""
        wd = str(tmp_path / "run5")
        run_pipeline(spark, small_transcripts, wd, MatchConfig())
        s3_manifest = os.path.join(wd, "s3_pairs_manifest.json")
        with open(s3_manifest) as f:
            up_before = json.load(f)["upstream_hash"]
        assert "s1_records:" in up_before and len(up_before.split(":")[1]) >= 12

        # simulate a changed upstream output (same config, different rows)
        s1_manifest = os.path.join(wd, "s1_records_manifest.json")
        with open(s1_manifest) as f:
            m = json.load(f)
        m["output_rows"] += 1
        with open(s1_manifest, "w") as f:
            json.dump(m, f)
        # the hand edit bypasses Hadoop's checksummed writer: drop the stale
        # .crc sidecar so the next read does not raise ChecksumException
        os.remove(os.path.join(wd, ".s1_records_manifest.json.crc"))

        t3 = os.path.getmtime(s3_manifest)
        run_pipeline(spark, small_transcripts, wd, MatchConfig())
        assert os.path.getmtime(s3_manifest) > t3, "s3 must recompute"
        with open(s3_manifest) as f:
            assert json.load(f)["upstream_hash"] != up_before

    def test_content_only_change_invalidates(self, spark, tmp_path):
        """The manifest fingerprint is CONTENT-sensitive: two stage writes
        with identical row count + schema but different values produce
        different content hashes (a same-cardinality recompute invalidates
        downstream, not just row-count/schema drift)."""
        from entity_matching_spark.plans.checkpoint import StageCheckpointer

        ck = StageCheckpointer(str(tmp_path / "ckc"))
        df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        df2 = spark.createDataFrame([("a", 1), ("b", 3)], "k string, v int")
        m1 = ck.write("sX", df1, "h")
        m2 = ck.write("sX", df2, "h")
        assert m1["output_rows"] == m2["output_rows"]
        assert m1["schema"] == m2["schema"]
        assert m1["content_hash"] != m2["content_hash"]
        # order-independence: a relayout of the same rows digests identically
        m3 = ck.write("sX", df1.repartition(5), "h")
        assert m3["content_hash"] == m1["content_hash"]
        # per-partition lineage carries the per-partition digests
        assert all("content_hash" in p for p in m3["partitions"])

    def test_input_fingerprint_invalidates_s1(self, spark, small_transcripts, tmp_path):
        wd = str(tmp_path / "run6")
        run_pipeline(spark, small_transcripts, wd, MatchConfig(), input_fingerprint="snap1")
        s1_manifest = os.path.join(wd, "s1_records_manifest.json")
        t1 = os.path.getmtime(s1_manifest)
        run_pipeline(spark, small_transcripts, wd, MatchConfig(), input_fingerprint="snap1")
        assert os.path.getmtime(s1_manifest) == t1, "same snapshot: reuse"
        run_pipeline(spark, small_transcripts, wd, MatchConfig(), input_fingerprint="snap2")
        assert os.path.getmtime(s1_manifest) > t1, "new snapshot: recompute"

    def test_include_duplicate_edges(self, spark, tmp_path):
        """J1 exact-identifier edges reach clustering only when the flag is
        on: two records sharing an MEI but with unrelated names score below
        MATCH, so only include_duplicate_edges=True clusters them."""
        rows = [
            ("convA", 0, "user", "Legal Name: Alpha Timber LLC\nMEI: US00000001", None),
            ("convB", 0, "user", "Legal Name: Zebra Granite Corp\nMEI: US00000001", None),
        ]
        import datetime

        t = spark.createDataFrame(
            [(c, i, r, x, tool, datetime.datetime(2026, 1, 1)) for c, i, r, x, tool in rows],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        base = MatchConfig(blocking_passes=("mei", "cleanname"))
        r_off = run_pipeline(spark, t, str(tmp_path / "dup_off"), base)
        c_off = {r["conv_id"]: r["cluster_id"] for r in r_off.clusters.collect()}
        assert c_off["convA"] != c_off["convB"]

        cfg_on = MatchConfig(blocking_passes=("mei", "cleanname"), include_duplicate_edges=True)
        r_on = run_pipeline(spark, t, str(tmp_path / "dup_on"), cfg_on)
        c_on = {r["conv_id"]: r["cluster_id"] for r in r_on.clusters.collect()}
        assert c_on["convA"] == c_on["convB"]


class TestProfileStages:
    def test_profile_manifests_and_resume(self, spark, small_transcripts, tmp_path):
        """run_profile writes lineage manifests for the three profiling
        stages, produces the vocabulary + curation funnel over the assembled
        conversation documents, and resumes from checkpoint like the ER
        stages do."""
        import json
        import os

        from entity_matching_spark.plans.pipeline import run_profile

        wd = str(tmp_path / "profile")
        prof = run_profile(spark, small_transcripts, wd, vocab_k=25)
        stages = {m["stage"]: m for m in prof["metrics"]}
        assert set(stages) == {"p1_documents", "p2_vocab", "p3_curation", "p4_packing"}
        assert all(m["status"] == "complete" for m in stages.values())
        n_docs = prof["documents"].count()
        assert n_docs == small_transcripts.select("conv_id").distinct().count()
        assert prof["vocab"].count() == 25
        cur = prof["curation"]
        assert cur.count() == n_docs
        cols = set(cur.columns)
        assert {"doc_id", "quality", "top_ngram_frac", "contamination",
                "near_dup", "sampled", "drop_reasons", "kept"} <= cols
        # no benchmark given -> the contamination screen never fires
        assert cur.where("contamination > 0").count() == 0
        # default_rate=1.0 -> sampling keeps everything
        assert cur.where("NOT sampled").count() == 0

        # packing covers exactly the kept documents, gap-free per shard
        pk = prof["packing"]
        n_kept = cur.where("kept").count()
        assert pk.count() == n_kept
        assert set(pk.columns) == {"doc_id", "shard", "n_tokens", "start_tok",
                                   "end_tok", "first_chunk", "last_chunk"}

        # resume: manifests unchanged (same mtimes => stages not rebuilt)
        mtimes = {
            f: os.path.getmtime(os.path.join(wd, f))
            for f in os.listdir(wd) if f.endswith("_manifest.json")
        }
        prof2 = run_profile(spark, small_transcripts, wd, vocab_k=25)
        mtimes2 = {
            f: os.path.getmtime(os.path.join(wd, f))
            for f in os.listdir(wd) if f.endswith("_manifest.json")
        }
        assert mtimes == mtimes2
        assert prof2["curation"].count() == n_docs

    def test_changed_benchmark_invalidates_resume(self, spark, small_transcripts, tmp_path):
        """The benchmark table joins the profile hash by CONTENT: with
        resume=True, swapping the benchmark must rebuild p3_curation against
        the new table, never silently reuse the stale checkpoint."""
        from entity_matching_spark.plans.pipeline import run_profile

        wd = str(tmp_path / "profile_bm")
        prof0 = run_profile(spark, small_transcripts, wd, vocab_k=10)
        # collect NOW: later runs rewrite the p1 parquet this frame reads
        row = prof0["documents"].select("doc_id", "text").first()
        # benchmark 1: disjoint from the corpus -> contamination never fires
        b1 = spark.createDataFrame(
            [("bm1", "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg")],
            "doc_id string, text string",
        )
        prof1 = run_profile(spark, small_transcripts, wd, vocab_k=10, benchmark=b1)
        assert prof1["curation"].where("contamination > 0").count() == 0
        # benchmark 2 (same schema, same row count, different CONTENT):
        # contains a real corpus document -> contamination must now fire
        b2 = spark.createDataFrame([(row["doc_id"], row["text"])],
                                   "doc_id string, text string")
        prof2 = run_profile(spark, small_transcripts, wd, vocab_k=10, benchmark=b2)
        assert prof2["curation"].where("contamination > 0").count() > 0

    def test_profile_cli_flag(self, spark, tmp_path):
        """jobs/run_pipeline.py --profile emits the profile summary block and
        the stage manifests under <out>/profile; the summary's row counts,
        taken from the manifests, equal count() over the stages read back."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import jobs.run_pipeline as cli

        out = str(tmp_path / "cliout")
        rc = cli.main([
            "--out", out, "--families", "12", "--profile", "--vocab-k", "10",
        ])
        assert rc == 0
        with open(os.path.join(out, "run_summary.json")) as f:
            summary = json.load(f)
        assert "profile" in summary
        assert summary["profile"]["vocab_rows"] == 10
        assert {s["stage"] for s in summary["profile"]["stages"]} == {
            "p1_documents", "p2_vocab", "p3_curation", "p4_packing"
        }
        assert os.path.exists(os.path.join(out, "profile", "p3_curation_manifest.json"))

        from entity_matching_spark.plans.checkpoint import StageCheckpointer

        def n(work_dir, stage):
            return StageCheckpointer(work_dir).read(spark, stage).count()

        assert summary["records"] == n(out, "s1_records") - n(out, "s1_quarantine")
        assert summary["scored_pairs"] == n(out, "s4_scored")
        assert summary["dropped_hot_keys"] == n(out, "s2_dropped_keys")
        assert summary["dropped_fuzzy_candidates"] == n(out, "s3_dropped_candidates")
        assert summary["profile"]["vocab_rows"] == n(os.path.join(out, "profile"), "p2_vocab")

    def test_audit_lineage_cli_flag(self, spark, tmp_path):
        """--audit-lineage runs every stage through the re-read cross-check
        and records the per-partition content breakdown in the manifests
        (default single-pass runs record files only)."""
        import json
        import os
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import jobs.run_pipeline as cli

        out = str(tmp_path / "cliaudit")
        # a file:// URI: the manifests and the run summary go through the
        # Hadoop FS, not a driver-local open()
        rc = cli.main(["--out", "file://" + out, "--families", "12", "--audit-lineage"])
        assert rc == 0
        with open(os.path.join(out, "s1_records_manifest.json")) as f:
            m = json.load(f)
        assert m["partitions"] and sum(p["rows"] for p in m["partitions"]) == m["output_rows"]
        assert str(sum(int(p["content_hash"]) for p in m["partitions"])) == m["content_hash"]
