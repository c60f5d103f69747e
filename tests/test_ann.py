"""ANN operator semantics (operators/ann.py): exhaustive-IVF equivalence,
recall accounting, and cell-assignment determinism. Cross-engine exactness
is covered by the driver oracles (ann_* queries)."""

import math

import pytest


@pytest.fixture(scope="module")
def vectors(spark):
    # 2-D unit-ish vectors on a ring: cosine structure is easy to reason about
    rows = [
        (i, [math.cos(2 * math.pi * i / 24), math.sin(2 * math.pi * i / 24)])
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


@pytest.fixture(scope="module")
def parts(vectors):
    import pyspark.sql.functions as F

    cents = vectors.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb")
    )
    probes = vectors.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    return cents, probes


class TestAnn:
    def test_ivf_with_all_cells_equals_brute_force(self, vectors, parts):
        from entity_matching_spark.operators.ann import brute_force_topk, ivf_topk

        cents, probes = parts
        exact = sorted(map(tuple, brute_force_topk(vectors, probes, 3).collect()))
        ivf = sorted(map(tuple, ivf_topk(vectors, cents, probes, 3, n_probe=4).collect()))
        assert ivf == exact  # searching every cell (n_probe = n_cells) is exact

    def test_restricted_probes_trade_recall(self, vectors, parts):
        from entity_matching_spark.operators.ann import (
            brute_force_topk, ivf_recall, ivf_topk,
        )

        cents, probes = parts
        exact = brute_force_topk(vectors, probes, 3)
        ivf = ivf_topk(vectors, cents, probes, 3, n_probe=1)
        rec = {r["probe_id"]: r["recall"] for r in ivf_recall(ivf, exact, 3).collect()}
        assert len(rec) == 5
        assert all(0.0 <= v <= 1.0 for v in rec.values())
        # ring geometry: a probe's neighbors are its adjacent points, almost
        # always inside its own cell -> average recall must be well over half
        assert sum(rec.values()) / len(rec) >= 0.5

    def test_assignment_is_nearest_centroid(self, vectors, parts):
        from entity_matching_spark.operators.ann import assign_cells

        cents, _ = parts
        got = {r["vec_id"]: r["centroid_id"] for r in assign_cells(vectors, cents).collect()}
        assert got[0] == 0 and got[6] == 6 and got[12] == 12
        assert got[1] == 0          # angle 15 deg: nearest centroid is 0
        assert got[5] == 6          # angle 75 deg: nearest is 90 deg (id 6)
        # ring midpoint ties (angle 45 deg) break to the LOWER centroid id
        assert got[3] == 0


class TestKMeansTraining:
    def test_converges_to_cluster_means_and_is_deterministic(self, spark):
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.ann import assign_cells, kmeans_centroids

        # two tight blobs on the unit circle, well separated (~0 deg and ~180
        # deg); k=2 with first-k-by-id init seeds one centroid in each blob
        rows = [(i, [1.0 + 0.001 * i, 0.001 * i]) for i in range(6)]
        rows += [(10 + i, [-1.0 - 0.001 * i, 0.001 * i]) for i in range(6)]
        vecs = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

        # init = vec_id 0 and 1 (both in blob A): blob B all assigns to the
        # marginally-closer seed, whose mean then moves across to blob B
        cents = kmeans_centroids(vecs, k=2, n_iter=4)
        got = sorted(map(tuple, cents.select("centroid_id", "cemb").collect()))
        assert [c for c, _ in got] == [0, 1]
        # determinism: a second run is bit-identical (6-dp rounding pin)
        again = sorted(map(tuple, kmeans_centroids(vecs, k=2, n_iter=4).collect()))
        assert got == again
        # after convergence every vector's nearest trained centroid groups the
        # blobs consistently: each blob lands wholly in one cell
        assign = assign_cells(vecs, cents).collect()
        by_blob = {}
        for r in assign:
            by_blob.setdefault(r["vec_id"] >= 10, set()).add(r["centroid_id"])
        assert all(len(cells) == 1 for cells in by_blob.values())

    def test_empty_cell_keeps_previous_centroid(self, spark):
        from entity_matching_spark.operators.ann import kmeans_centroids

        # 3 identical vectors, k=3: after assignment everything lands in cell
        # 0 (argmax tie -> lowest centroid_id); cells 1 and 2 get no members
        # and must keep their init value instead of vanishing or going null
        vecs = spark.createDataFrame(
            [(i, [1.0, 2.0]) for i in range(3)], "vec_id int, embedding array<float>"
        )
        cents = kmeans_centroids(vecs, k=3, n_iter=2)
        rows = {r["centroid_id"]: r["cemb"] for r in cents.collect()}
        assert sorted(rows) == [0, 1, 2]
        assert all(v is not None and len(v) == 2 for v in rows.values())


class TestEmbeddingNearDup:
    def test_cell_blocked_threshold_pairs(self, vectors, parts):
        from entity_matching_spark.operators.dedup import embedding_near_dup_pairs

        cents, _ = parts
        got = {(r["vec_a"], r["vec_b"]): r["cos"]
               for r in embedding_near_dup_pairs(vectors, cents, threshold=0.9).collect()}
        # ring spacing 15 deg: cos(15)=0.966 >= 0.9, cos(30)=0.866 < 0.9 ->
        # only ADJACENT points can pair; (0,1) share cell 0 so must be found
        assert (0, 1) in got
        assert all(b - a == 1 or (a, b) == (0, 23) for a, b in got)
        assert all(v >= 0.9 for v in got.values())
        # non-adjacent same-cell pair is below threshold
        assert (0, 2) not in got


class TestKMeansParallelInit:
    def test_k_centroids_deterministic_and_spread(self, spark):
        """kpp init returns exactly k distinct-id centroids, identical across
        runs, and (on a two-cluster corpus with adversarially ordered ids)
        seeds BOTH clusters — the failure mode first-k-by-id exhibits."""
        import pyspark.sql.functions as F

        from entity_matching_spark.operators.ann import kmeans_parallel_init

        # ids 0..19 all in cluster A (around +x), ids 20..23 in cluster B
        # (around -x): first-k-by-id with k=4 would seed ONLY cluster A
        rows = [(i, [1.0, 0.001 * i]) for i in range(20)]
        rows += [(i, [-1.0, 0.001 * i]) for i in range(20, 24)]
        v = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        a = kmeans_parallel_init(v, k=4).collect()
        b = kmeans_parallel_init(v, k=4).collect()
        key = lambda r: (r["centroid_id"], tuple(r["cemb"]))  # noqa: E731
        assert sorted(map(key, a)) == sorted(map(key, b))
        assert len(a) == 4
        assert len({r["centroid_id"] for r in a}) == 4
        signs = {1 if r["cemb"][0] > 0 else -1 for r in a}
        assert signs == {1, -1}, f"kpp failed to seed both clusters: {a}"

    def test_pad_path_on_degenerate_corpus(self, spark):
        """All-identical vectors: after the seed every distance quantizes to
        0, no Bernoulli round keeps anything, and the hash-ordered pads must
        fill the remaining k-1 slots."""
        from entity_matching_spark.operators.ann import kmeans_parallel_init

        v = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0]) for i in range(10)],
            "vec_id int, embedding array<double>",
        )
        got = kmeans_parallel_init(v, k=5).collect()
        assert len(got) == 5
        assert sorted(r["centroid_id"] for r in got) == [0, 1, 2, 3, 4]

    def test_kmeans_centroids_kpp_trains(self, spark):
        from entity_matching_spark.operators.ann import kmeans_centroids

        rows = [(i, [1.0 + 0.01 * (i % 3), 0.0]) for i in range(12)]
        rows += [(i, [0.0, 1.0 + 0.01 * (i % 3)]) for i in range(12, 24)]
        v = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        c = kmeans_centroids(v, k=2, n_iter=2, init="kpp").collect()
        assert len(c) == 2
        # trained centroids land one per true cluster
        dims = sorted((round(r["cemb"][0], 2), round(r["cemb"][1], 2)) for r in c)
        assert dims[0][0] < 0.1 and dims[0][1] > 0.9
        assert dims[1][0] > 0.9 and dims[1][1] < 0.1

    def test_unknown_init_raises(self, spark):
        import pytest as _pytest

        from entity_matching_spark.operators.ann import kmeans_centroids

        v = spark.createDataFrame([(0, [1.0])], "vec_id int, embedding array<double>")
        with _pytest.raises(ValueError, match="unknown init"):
            kmeans_centroids(v, k=1, init="nope")

    def test_ragged_or_empty_embeddings_fail_loud(self, spark):
        """The dims probe aggregates over ALL non-NULL embeddings: one
        zero-length (or short) vector must raise, not silently train every
        centroid to [] / truncate the means (the old one-arbitrary-row probe
        did exactly that when limit(1) picked the bad row). NULL embeddings
        stay tolerated — the update path filters them."""
        import pytest as _pytest

        from entity_matching_spark.operators.ann import kmeans_centroids

        ragged = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [])], "vec_id int, embedding array<double>"
        )
        # the probe runs before seeding, so the k-means|| init (which runs
        # Spark actions of its own) fails the same way
        for init in ("first", "kpp"):
            with _pytest.raises(ValueError, match="ragged"):
                kmeans_centroids(ragged, k=1, n_iter=1, init=init)
        empty = spark.createDataFrame(
            [(0, []), (1, [])], "vec_id int, embedding array<double>"
        )
        with _pytest.raises(ValueError, match="zero-length"):
            kmeans_centroids(empty, k=1, n_iter=1)
        # element-level NULLs must fail loud too: the per-dimension F.sum
        # skips the NULL element while the member count includes the row, so
        # [2.0, NULL] next to [4.0, 6.0] would silently train dim-1 to
        # 6.0/2 = 3.0 instead of 6.0 (and an all-NULL dimension would train
        # a NULL coordinate that NULLs every later cosine)
        null_elem = spark.createDataFrame(
            [(0, [2.0, None]), (1, [4.0, 6.0])],
            "vec_id int, embedding array<double>",
        )
        with _pytest.raises(ValueError, match="NULL elements"):
            kmeans_centroids(null_elem, k=1, n_iter=1)
        with_null = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, None)],
            "vec_id int, embedding array<double>",
        )
        got = kmeans_centroids(with_null, k=1, n_iter=1).collect()
        assert len(got) == 1 and got[0]["cemb"] == [2.0, 3.0]


class TestQuantization:
    def test_roundtrip_error_bounded(self, spark, vectors):
        """Dequantized values sit within half a quantization step of the
        original, and the codes stay in [0, levels-1]."""
        from entity_matching_spark.operators.ann import (
            dequantize_embeddings, quantization_model, quantize_embeddings,
        )

        model = quantization_model(vectors)
        mm = {r["pos"]: (r["dmin"], r["dmax"]) for r in model.collect()}
        q = quantize_embeddings(vectors, model, levels=16)
        codes = {r["vec_id"]: r["qemb"] for r in q.collect()}
        assert all(0 <= c <= 15 for arr in codes.values() for c in arr)
        deq = {r["vec_id"]: r["embedding"]
               for r in dequantize_embeddings(q, model, levels=16).collect()}
        orig = {r["vec_id"]: [float(x) for x in r["embedding"]]
                for r in vectors.collect()}
        for vid, arr in orig.items():
            for pos, x in enumerate(arr):
                step = (mm[pos][1] - mm[pos][0]) / 15
                assert abs(deq[vid][pos] - x) <= step / 2 + 1e-9

    def test_constant_dimension_quantizes_to_zero(self, spark):
        from entity_matching_spark.operators.ann import (
            quantization_model, quantize_embeddings,
        )

        v = spark.createDataFrame(
            [(i, [5.0, float(i)]) for i in range(4)],
            "vec_id int, embedding array<double>",
        )
        q = {r["vec_id"]: r["qemb"] for r in
             quantize_embeddings(v, quantization_model(v)).collect()}
        assert all(arr[0] == 0 for arr in q.values())   # constant dim
        assert q[0][1] == 0 and q[3][1] == 255          # full range

    def test_quantized_search_high_recall_at_256_levels(self, spark, vectors):
        """At 256 levels quantized search stays close to exact — on the ring
        corpus neighbors are nearly equidistant (the adversarial case for
        rank stability), so allow one flipped rank per probe."""
        from entity_matching_spark.operators.ann import (
            brute_force_topk, ivf_recall, quantized_topk,
        )

        probes = vectors.where("vec_id < 4").selectExpr(
            "vec_id AS probe_id", "embedding AS pe"
        )
        exact = brute_force_topk(vectors, probes, 3)
        qk = quantized_topk(vectors, probes, 3, levels=256)
        rec = {r["probe_id"]: r["recall"] for r in ivf_recall(qk, exact, 3).collect()}
        assert all(v >= 2 / 3 for v in rec.values())
        assert sum(rec.values()) / len(rec) >= 0.8
