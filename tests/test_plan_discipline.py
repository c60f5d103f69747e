"""Executed-plan discipline regression tests.

The 100 TB promises this repo makes are PLAN properties, not just result
properties: one Arrow UDF in the scoring hot path (JW only), zero
row-at-a-time Python anywhere, no cartesian products in any pair-generation
path, and filters pushed to the parquet scan. Results stay correct if these
regress — only the scale story silently dies — so the plans themselves are
pinned here, the same histogram discipline docs/PLANS.md audits by hand.
(The round-2 -> round-3 bench comparison relied on exactly this executed-plan
identity to separate host noise from code regressions; this test makes the
check automatic.)
"""

import math
import re
import struct
from contextlib import contextmanager

import pytest

from entity_matching_spark.operators.blocking import generate_blocking_keys, generate_pairs
from entity_matching_spark.operators.score import score_pairs


def _executed_plan(df) -> str:
    """Formatted explain of the AQE-final plan — each physical operator
    appears exactly once as '(n) OperatorName' (the raw executedPlan string
    re-prints shared subtrees per query stage, which overcounts)."""
    df.count()  # force execution so AQE finalizes the physical plan
    fm = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(fm)


def _hist(plan: str) -> dict:
    return {
        label: len(re.findall(r"\(\d+\) " + pat, plan))
        for pat, label in [
            ("ArrowEvalPython", "arrow"),
            ("BatchEvalPython", "py_row"),
            ("CartesianProduct", "cartesian"),
            ("BroadcastNestedLoopJoin", "bnlj"),
        ]
    }


@pytest.fixture(scope="module")
def pair_plan_and_score_plan(spark, records_df, tmp_path_factory):
    # parquet roundtrip: scoring reads records from a checkpoint stage in the
    # real pipeline, so its plan must be audited over a scan, not over the
    # record-assembly lineage (whose own UDFs would pollute the node count)
    p = str(tmp_path_factory.mktemp("plan") / "records.parquet")
    records_df.write.parquet(p)
    records = spark.read.parquet(p)
    keys = generate_blocking_keys(records)
    pairs, _ = generate_pairs(keys)
    pairs = pairs.localCheckpoint()  # audit the scoring stage in isolation
    scored = score_pairs(records, pairs)
    return _executed_plan(pairs), _executed_plan(scored)


class TestScoringPlan:
    def test_exactly_one_arrow_udf_no_row_python(self, pair_plan_and_score_plan):
        _, plan = pair_plan_and_score_plan
        h = _hist(plan)
        # ONE ArrowEval (the batched-numpy JW kernel) and nothing row-at-a-time
        assert h["arrow"] == 1, f"expected 1 ArrowEval in scoring, got {h}"
        assert h["py_row"] == 0, f"row-at-a-time Python crept into scoring: {h}"

    def test_no_cartesian_or_forced_nlj(self, pair_plan_and_score_plan):
        _, plan = pair_plan_and_score_plan
        h = _hist(plan)
        assert h["cartesian"] == 0 and h["bnlj"] == 0, (
            f"non-equi join in the scoring path: {h}"
        )


class TestBlockingPlan:
    def test_pair_generation_all_equi_joins(self, pair_plan_and_score_plan):
        plan, _ = pair_plan_and_score_plan
        h = _hist(plan)
        assert h["cartesian"] == 0, f"cartesian in pair generation: {h}"
        assert h["arrow"] == 0 and h["py_row"] == 0, (
            f"Python in pair generation (must be all-native): {h}"
        )


class TestDedupPlans:
    def test_dedup_family_no_python_no_cartesian(self, spark):
        from entity_matching_spark.operators.dedup import (
            embedding_lsh_pairs,
            minhash_verified_pairs,
            ngram_jaccard_pairs,
            remove_duplicate_spans,
            simhash_near_dup_pairs,
            substring_duplicate_spans,
            token_jaccard_pairs,
        )
        from entity_matching_spark.operators.text import bm25_scores_table

        docs = spark.createDataFrame(
            [(i, "web", f"alpha beta gamma delta tok{i} tok{i + 1} tok{i + 2}") for i in range(40)],
            "doc_id int, source string, text string",
        )
        vecs = spark.createDataFrame(
            [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(40)],
            "vec_id int, embedding array<double>",
        )
        qt = spark.createDataFrame(
            [("q1", "alpha"), ("q1", "beta"), ("q2", "gamma")],
            "query_id string, term string",
        )
        spans = substring_duplicate_spans(docs)[0]
        outs = {
            "token_jaccard": token_jaccard_pairs(docs)[0],
            "ngram_jaccard": ngram_jaccard_pairs(docs)[0],
            "minhash_verified": minhash_verified_pairs(docs),
            "simhash_pairs": simhash_near_dup_pairs(docs)[0],
            "embedding_lsh": embedding_lsh_pairs(vecs, dim=8)[0],
            "substring_spans": spans,
            "substring_removal": remove_duplicate_spans(docs, spans),
            "bm25_table": bm25_scores_table(docs, qt),
        }
        for name, df in outs.items():
            h = _hist(_executed_plan(df))
            assert h["arrow"] == 0 and h["py_row"] == 0, f"{name}: Python in plan {h}"
            assert h["cartesian"] == 0, f"{name}: cartesian product {h}"

    def test_simhash_signature_build_single_token_shuffle(self, spark, tmp_path):
        # the round-3 verdict flagged the signature build's 60-rows-per-token
        # explode + TWO groupBys; the round-4 form explodes tokens ONCE (one
        # Generate) and runs ONE groupBy (one Exchange of map-side-combined
        # 60-column partials) — no per-bit explode anywhere
        from entity_matching_spark.operators.dedup import simhash_signatures

        p = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(i, f"alpha beta tok{i} tok{i + 1}") for i in range(50)],
            "doc_id int, text string",
        ).write.parquet(p)
        plan = _executed_plan(simhash_signatures(spark.read.parquet(p)))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        n_generate = len(re.findall(r"\(\d+\) Generate", plan))
        assert n_exchange == 1, f"expected ONE groupBy shuffle, got {n_exchange}:\n{plan}"
        assert n_generate == 1, f"expected ONE token explode, got {n_generate}:\n{plan}"
        assert "sequence(0, 59" not in plan, f"per-bit explode crept back:\n{plan}"

    def test_quantize_zero_shuffle_against_broadcast_model(self, spark, tmp_path):
        # scalar quantization is a zip_with projection against the one-row
        # min/max model: the MODEL build pays a per-dimension skinny shuffle
        # once (posexplode + groupBy(pos)), but the corpus side must stay a
        # pure projection — never hash-partitioned, joined only through ONE
        # BroadcastExchange of the collapsed model row
        from entity_matching_spark.operators.ann import (
            quantization_model, quantize_embeddings,
        )

        p = str(tmp_path / "emb.parquet")
        spark.createDataFrame(
            [(i, [float((i * 5 + d) % 7) for d in range(8)]) for i in range(50)],
            "vec_id int, embedding array<double>",
        ).write.parquet(p)
        e = spark.read.parquet(p)
        plan = _executed_plan(quantize_embeddings(e, quantization_model(e)))
        assert "hashpartitioning(vec_id" not in plan, plan
        assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1, plan
        # model-side shuffles are dimension-keyed, never corpus-row-keyed
        for key in re.findall(r"hashpartitioning\((\w+)", plan):
            assert key == "pos", plan

    def test_fingerprints_zero_shuffle_zero_generate(self, spark, tmp_path):
        # round 4: the winnowing fingerprint is a per-row array_min fold —
        # no explode-per-stride (Generate) and no groupBy (Exchange)
        from entity_matching_spark.operators.dedup import fingerprints

        p = str(tmp_path / "fdocs.parquet")
        spark.createDataFrame(
            [(i, "x" * 40 + f"tail{i}") for i in range(50)],
            "doc_id int, text string",
        ).write.parquet(p)
        plan = _executed_plan(fingerprints(spark.read.parquet(p)))
        assert not re.search(r"\(\d+\) Exchange", plan), plan
        assert not re.search(r"\(\d+\) Generate", plan), plan



class TestScanPruning:
    def test_probe_filter_pushed_to_parquet_scan(self, spark, tmp_path):
        # a probe-style filter + 2-column projection must reach the scan:
        # PushedFilters carries the predicate, ReadSchema only the 2 columns
        p = str(tmp_path / "t.parquet")
        spark.range(100).selectExpr(
            "id AS vec_id", "CAST(id AS STRING) AS a", "CAST(id * 2 AS STRING) AS b"
        ).write.parquet(p)
        df = spark.read.parquet(p).where("vec_id < 20").select("vec_id", "a")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]" in plan
        assert re.search(r"ReadSchema: struct<vec_id:bigint,a:string>", plan)


@contextmanager
def _py4j_commands(spark):
    """Count the driver's Py4J gateway commands, memory releases (``m``)
    excluded: their timing follows Python garbage collection, everything
    else is a deterministic function of the plan being authored."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counting(command, *args, **kwargs):
        n[0] += not command.startswith("m")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


class TestAuthoringCost:
    def test_authoring_py4j_ceiling(self, spark, transcripts_df):
        """Plan constants cross the gateway once per table (``const``), not
        once per element: authoring S1 stays under a fixed command ceiling,
        and the sign-LSH plan does not grow with the hyperplane width."""
        from entity_matching_spark.operators.assemble import build_records
        from entity_matching_spark.operators.dedup import embedding_lsh_pairs

        with _py4j_commands(spark) as n:
            build_records(transcripts_df)
        assert n[0] <= 3000, f"build_records authoring took {n[0]} Py4J commands"

        counts = {}
        for dim in (64, 1024):
            vecs = spark.createDataFrame([], "vec_id int, embedding array<double>")
            with _py4j_commands(spark) as n:
                embedding_lsh_pairs(vecs, n_planes=4, rows_per_band=2, dim=dim)
            counts[dim] = n[0]
        assert counts[1024] <= 1.05 * counts[64], counts


class TestConst:
    def test_const_matches_lit(self, spark):
        """``const(v)`` is ``F.lit(v)`` (``create_map`` of lits for a dict) in
        value and Spark type, one SQL literal, for the edge cases of each
        rendered type; NaN, inf and unsupported types raise."""
        from pyspark.sql import functions as F

        from entity_matching_spark.functions.lookups import const

        def lit_map(d):
            return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])

        strings = ["it's", "back\\slash\\", "new\nline", "Société Générale ☃",
                   "${spark.app.name}", "tab\t\\u0041%_", ""]
        ints = [0, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 2**63 - 1, -(2**63)]
        doubles = [0.85, 1e-05, 5e-324, 1.7976931348623157e308, -0.0, 0.1 + 0.2]
        cases = (
            [(v, F.lit(v)) for v in strings + ints + doubles + [True, False]]
            + [
                (strings, F.lit(strings)),
                (ints, F.lit(ints)),
                (doubles, F.lit(doubles)),
                ([[1, 2], [3]], F.lit([[1, 2], [3]])),
                ([("a", "b"), ("c", "d")], F.lit([["a", "b"], ["c", "d"]])),
                ({"x": -25.0, "y'": 0.5}, lit_map({"x": -25.0, "y'": 0.5})),
                ({"d": ["a", "b"], "e": ["c"]}, F.create_map(
                    F.lit("d"), F.lit(["a", "b"]), F.lit("e"), F.lit(["c"]))),
                ({1: 0, 2: 2**40}, lit_map({1: 0, 2: 2**40})),
            ]
        )
        df = spark.range(1).select(
            *[c.alias(f"c{i}") for i, (v, _) in enumerate(cases) for c in [const(v)]],
            *[ref.alias(f"r{i}") for i, (_, ref) in enumerate(cases)],
        )
        row = df.first()

        def bits(x):
            # doubles compare bit for bit (-0.0 == 0.0 otherwise)
            if isinstance(x, float):
                return struct.pack(">d", x)
            if isinstance(x, list):
                return [bits(y) for y in x]
            if isinstance(x, dict):
                return {k: bits(y) for k, y in x.items()}
            return x

        for i, (v, _) in enumerate(cases):
            got, want = df.schema[f"c{i}"].dataType, df.schema[f"r{i}"].dataType
            assert got == want, (v, got, want)
            assert bits(row[f"c{i}"]) == bits(row[f"r{i}"]), (v, row[f"c{i}"], row[f"r{i}"])
        for bad in (math.nan, math.inf, -math.inf, [1.0, math.nan], {"a"}, 2**63):
            with pytest.raises((TypeError, ValueError)):
                const(bad)
