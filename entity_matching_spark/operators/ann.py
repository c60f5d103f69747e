"""Approximate-nearest-neighbor search over embedding columns.

Training-data pipelines need similarity search over an ``array<float>``
embedding column at corpus scale. Two paths:

- ``brute_force_topk``: exact cosine top-k via cross join — the correctness
  baseline and the oracle for the approximate path. O(|probes| * |vectors|);
  fine for evaluation probes, not for corpus-vs-corpus.
- ``ivf_topk``: IVF (inverted-file) cell-restricted search — the scale path.
  Every vector is assigned to its nearest coarse centroid once
  (``assign_cells``); a probe searches only its ``n_probe`` nearest cells.
  Work drops from |V| to ~|V| * n_probe / n_cells per probe, and the
  candidate join shuffles on ``centroid_id`` — bounded by cell size, which
  the centroid count controls.
- ``quantization_model`` / ``quantize_embeddings`` / ``dequantize_embeddings``
  / ``quantized_topk``: per-dimension scalar quantization — the int8 storage
  path for corpus-scale embedding tables (4× smaller than float32), with the
  quantized-search recall measured against the exact baseline. Quantization
  is a zero-shuffle zip_with projection against a broadcast one-row model.

Scale notes (100 TB design):
- The centroid table is a MODEL PARAMETER (k centroids, k ~ sqrt(|V|) in
  practice), not data-sized — broadcasting it is correct and intended, unlike
  broadcasting data-derived tables.
- Cell assignment is one |V| x k scan with the broadcast centroids: no
  shuffle until the final per-cell aggregation, and it materializes once for
  any number of probe batches.
- All dot products run JVM-side (``F.zip_with`` + ``F.aggregate`` inside
  whole-stage codegen); no Python in the hot path.

No reference analog (graft-brief requirement beyond fmateoc/entity-matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def cosine(a, b) -> F.Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def _emb(col) -> F.Column:
    return F.col(col).cast("array<double>")


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: (vec_id, centroid_id) — nearest centroid by
    cosine, ties broken by centroid_id for determinism.

    ``vectors``: (vec_id, embedding); ``centroids``: (centroid_id, cemb).
    The centroid side is broadcast (fixed-k model table, never data-sized).
    """
    sims = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "centroid_id",
        cosine(_emb("embedding"), _emb("cemb")).alias("cos"),
    )
    # argmax as a map-side-combinable aggregate — max of (cos, -centroid_id)
    # reproduces the (cos DESC, centroid_id ASC) ordering exactly. A window
    # would shuffle and sort ALL |V| x k similarity rows on vec_id; the
    # partial aggregate collapses each vector's k rows to one before the
    # shuffle — a k-fold shuffle reduction on the training/assignment scan.
    best = sims.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("centroid_id")).alias("neg_id"))).alias("m")
    )
    return best.select("vec_id", (-F.col("m.neg_id")).alias("centroid_id"))


def probe_cells(probes: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """(probe_id, centroid_id) for each probe's ``n_probe`` nearest cells,
    carrying the probe embedding through for the downstream scoring join."""
    sims = probes.crossJoin(F.broadcast(centroids)).select(
        "probe_id", "pe", "centroid_id",
        cosine(_emb("pe"), _emb("cemb")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        sims.withColumn("r", F.row_number().over(w)).where(F.col("r") <= n_probe)
        .select("probe_id", "pe", "centroid_id")
    )


def brute_force_topk(vectors: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k: (probe_id, rank, neighbor_id). The oracle path."""
    cand = vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    sims = (
        probes.crossJoin(cand)
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", cosine(_emb("pe"), _emb("ce")).alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id")
    )


def ivf_topk(
    vectors: DataFrame, centroids: DataFrame, probes: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """IVF cell-restricted top-k: search only each probe's ``n_probe``
    nearest cells. (probe_id, rank, neighbor_id); approximate — recall
    against ``brute_force_topk`` is the quality metric (see ivf_recall).
    """
    assign = assign_cells(vectors, centroids)
    pc = probe_cells(probes, centroids, n_probe)
    cand = (
        pc.join(assign, "centroid_id")
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "pe", F.col("vec_id").alias("neighbor_id"))
    )
    scored = cand.join(
        vectors.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")),
        "neighbor_id",
    ).select("probe_id", "neighbor_id", cosine(_emb("pe"), _emb("ce")).alias("cos"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id")
    )


def _u32(salt: str, tag, id_expr) -> F.Column:
    """Deterministic 32-bit uniform variate from md5(salt|tag|id) — the same
    engine-portable construction curate.sample_columns uses, so DuckDB can
    reproduce every sampling decision bit-for-bit."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}|{tag}|"), id_expr.cast("string"))), 1, 8
        ),
        16, 10,
    ).cast("long")


# sentinel qd for the round-0 seed: above the largest real quantized cosine
# distance (d <= 2 -> qd <= 2_000_000), so the seed always ranks first
_KPP_SEED_QD = 1 << 21


def kmeans_parallel_init(
    vectors: DataFrame,
    k: int,
    rounds: int = 2,
    oversample: int | None = None,
    salt: str = "kpp",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means‖-style seeding: (centroid_id, cemb).

    The production-quality alternative to first-k-by-id init (which is
    replayable but degenerates under adversarially ordered ids — all seeds
    from one corner of the space). Classic k-means‖ (Bahmani et al., VLDB
    2012) oversamples ~l points per round with probability proportional to
    each point's distance to the current seed set; this implementation keeps
    that structure while replacing every random draw with an md5-derived
    variate so the training run is replayable AND cross-engine oracle-
    checkable:

    - round 0 seed: the vector with the smallest md5(salt|0|id) — a
      hash-uniform pick, immune to id ordering;
    - rounds 1..``rounds``: each non-candidate x is kept iff
      ``u_t(x) * Φ < l * qd(x) * 2^32`` where qd(x) = round(1e6 * cosine
      distance to the nearest current candidate), Φ = Σ qd (an exact integer
      sum), u_t(x) the 32-bit md5 variate, and l = ``oversample`` (default
      2k) — i.e. P[keep] ≈ min(1, l·d/Φ), the k-means‖ schedule. The
      comparison runs in DECIMAL (Spark) / HUGEINT (DuckDB): exact integer
      arithmetic, so both engines make identical keep decisions;
    - final reduction: rank candidates by (selection round ASC, qd DESC,
      id ASC) and take k — earlier, farther picks first (the deterministic
      stand-in for the weighted k-means++ reduction); if fewer than k
      candidates were drawn (tiny or degenerate corpora), pad with the
      hash-smallest remaining vectors.

    Scale shape: per round, one |V| x |C| broadcast scan (C = candidates,
    O(l·rounds) — a model-sized table) + a map-side-combinable max + one
    scalar aggregate crossed back in; candidates localCheckpoint per round
    (k-scale). The final rank is a window over O(l·rounds) rows and the pad
    is a TakeOrdered of k rows — both k-scale, never data-sized.
    """
    ell = int(oversample or 2 * k)
    v = vectors.select(F.col(id_col).alias("vec_id"), _emb(emb_col).alias("emb"))
    seed_ord = F.md5(F.concat(F.lit(f"{salt}|0|"), F.col("vec_id").cast("string")))
    cand = (
        v.orderBy(seed_ord, "vec_id").limit(1)  # TakeOrdered, no global sort
        .select(
            F.lit(0).alias("sel_round"),
            F.lit(_KPP_SEED_QD).cast("long").alias("qd"),
            "vec_id", "emb",
        )
        .localCheckpoint()
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — exact int compare

    def _anti(df, ids):
        # localCheckpoint keeps lineage attribute ids, so joining cand back
        # against v needs the candidate id under a fresh name
        cid = ids.select(F.col("vec_id").alias("_cid"))
        return df.join(cid, df["vec_id"] == cid["_cid"], "left_anti")

    for t in range(1, rounds + 1):
        c = cand.select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
        nc = _anti(v, cand)
        best = (
            nc.crossJoin(F.broadcast(c))
            .select("vec_id", "emb", cosine(F.col("emb"), F.col("cemb")).alias("cos"))
            .groupBy("vec_id", "emb")  # emb is functionally dependent on vec_id
            .agg(F.max("cos").alias("best_cos"))
        )
        scored = best.select(
            "vec_id", "emb",
            F.round(F.greatest(F.lit(0.0), 1 - F.col("best_cos")) * 1e6)
            .cast("long").alias("qd"),
        )
        phi = scored.agg(F.sum("qd").alias("phi"))
        kept = (
            scored.crossJoin(F.broadcast(phi))
            .where(
                dec(_u32(salt, t, F.col("vec_id"))) * dec(F.col("phi"))
                < dec(F.lit(ell) * F.col("qd")) * dec(F.lit(4294967296))
            )
            .select(F.lit(t).alias("sel_round"), "qd", "vec_id", "emb")
        )
        cand = cand.unionByName(kept).localCheckpoint()
    # pads rank by the SAME key as the pool window: qd = -u orders them by
    # hash ascending after every real candidate (sel_round rounds+1)
    pad_u = _u32(salt, "pad", F.col("vec_id"))
    pads = (
        _anti(v, cand)
        .orderBy(pad_u, "vec_id").limit(k)  # TakeOrdered; at most k pads win
        .select(
            F.lit(rounds + 1).alias("sel_round"),
            (-pad_u).alias("qd"),
            "vec_id", "emb",
        )
    )
    pool = cand.unionByName(pads)
    w = Window.orderBy("sel_round", F.desc("qd"), "vec_id")  # k-scale rows
    return (
        pool.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select((F.col("rn") - 1).alias("centroid_id"), F.col("emb").alias("cemb"))
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_dp: int = 6,
    init: str = "first",
) -> DataFrame:
    """Train IVF coarse centroids with deterministic distributed Lloyd's
    iterations: (centroid_id, cemb).

    Completes the ANN family from raw embeddings (previously the centroid
    table was an input the pipeline couldn't make). Each iteration is the
    classic two-step Spark shape:

    - ASSIGN: |V| x k cosine scan against the broadcast centroids (reuses
      ``assign_cells`` — no shuffle until the argmax window on vec_id);
    - UPDATE (round 5): groupBy(centroid_id) with per-dimension native SUM
      columns + one count, divided once — map-side combined, so the shuffle
      carries one dims-wide row per (centroid, map partition) instead of the
      previous posexplode's |V| x dims skinny rows. The embedding dimension
      is read from one row up front (fixed-dims corpus by contract); empty
      cells keep their previous centroid.

    Determinism pin: BOTH inits are RNG-free and every updated centroid
    coordinate is rounded to ``round_dp`` decimals — float summation order
    differs across partitions and engines, and the rounding quantizes that
    noise away, making the trained centroids exactly reproducible (fixed
    input -> bit-identical output, DuckDB oracle-checkable).

    ``init``:
    - ``"first"`` (default): the ``k`` vectors with the smallest ids — the
      simplest replayable init, but adversarially ordered ids can seed all
      centroids from one corner of the space;
    - ``"kpp"``: deterministic k-means‖-style distance-weighted seeding
      (``kmeans_parallel_init``) — the production-quality choice, still
      replayable and oracle-checkable because every draw is an md5 variate.
      The IVF recall metric measures the quality delta either way.

    Lineage is truncated per iteration (localCheckpoint on the k x 1 table)
    so the plan does not deepen with ``n_iter`` — same discipline as the
    connected-components loop (operators/cluster.py).
    """
    if init not in ("first", "kpp"):
        raise ValueError(f"kmeans_centroids: unknown init {init!r} (first|kpp)")
    # dims probe over ALL non-NULL embeddings, not one arbitrary row: a
    # sampled empty/short array would set n_dims to 0 (every centroid
    # silently trained to []) or truncate every centroid to its length
    # (F.sum skips out-of-bounds NULLs while n counts the row, biasing the
    # means) — so ragged or zero-length embeddings fail loud here instead.
    # Element-level NULLs fail loud for the same reason: the per-dimension
    # F.sum skips a NULL element while F.count('*') still counts the row, so
    # a [2.0, NULL] member would silently bias (or NULL out) that
    # dimension's trained mean.
    # One aggregate scan against n_iter training scans; whole-row NULL
    # embeddings stay tolerated (the update path filters them). It runs
    # BEFORE seeding: kmeans_parallel_init executes Spark actions over the
    # vectors, which invalid input must not pay for.
    probe = (
        vectors.where(F.col(emb_col).isNotNull())
        .agg(
            F.min(F.size(_emb(emb_col))).alias("dmin"),
            F.max(F.size(_emb(emb_col))).alias("dmax"),
            F.sum(
                F.when(F.exists(_emb(emb_col), lambda v: v.isNull()), 1)
                .otherwise(0)
            ).alias("n_null_elem"),
        )
        .collect()[0]
    )
    if probe["dmin"] is None:
        n_dims = 0  # no non-NULL vectors: the loop below leaves cents as-is
    elif probe["dmin"] != probe["dmax"]:
        raise ValueError(
            f"kmeans_centroids: ragged embeddings — size({emb_col}) spans "
            f"[{probe['dmin']}, {probe['dmax']}]; training needs uniform dims"
        )
    elif probe["n_null_elem"]:
        raise ValueError(
            f"kmeans_centroids: {probe['n_null_elem']} embeddings contain "
            f"NULL elements — the per-dimension sums would skip them while "
            f"the member count includes the row, silently biasing the "
            f"trained means; drop or impute NULL elements before training"
        )
    elif probe["dmin"] <= 0:
        raise ValueError(
            f"kmeans_centroids: every non-NULL {emb_col} is zero-length; "
            f"nothing to train on"
        )
    else:
        n_dims = probe["dmin"]
    if init == "kpp":
        cents = kmeans_parallel_init(vectors, k, id_col=id_col, emb_col=emb_col)
    else:
        cents = (
            vectors.orderBy(id_col).limit(k)
            .select(
                (F.row_number().over(Window.orderBy(id_col)) - 1).alias("centroid_id"),
                _emb(emb_col).alias("cemb"),
            )
        )
    for _ in range(n_iter):
        assign = assign_cells(
            vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")),
            cents,
        )
        sums = (
            assign.join(
                vectors.select(F.col(id_col).alias("vec_id"), _emb(emb_col).alias("e")),
                "vec_id",
            )
            .where(F.col("e").isNotNull())
            .groupBy("centroid_id")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("e")[i]).alias(f"s{i}") for i in range(n_dims)],
            )
        )
        updated = sums.select(
            "centroid_id",
            F.array(
                *[F.round(F.col(f"s{i}") / F.col("n"), round_dp) for i in range(n_dims)]
            ).alias("cemb"),
        )
        cents = (
            cents.select("centroid_id", F.col("cemb").alias("prev"))
            .join(updated, "centroid_id", "left")
            .select("centroid_id", F.coalesce("cemb", "prev").alias("cemb"))
            .localCheckpoint()
        )
    return cents


def ivf_recall(ivf: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Per-probe recall@k of the IVF result against the exact baseline:
    (probe_id, n_hits, recall)."""
    hits = exact.join(
        ivf.select("probe_id", "neighbor_id"), ["probe_id", "neighbor_id"]
    ).groupBy("probe_id").agg(F.count("*").alias("n_hits"))
    return (
        exact.select("probe_id").distinct()
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / k, 6).alias("recall"),
        )
    )


def quantization_model(
    vectors: DataFrame, emb_col: str = "embedding"
) -> DataFrame:
    """(pos, dmin, dmax): per-dimension corpus min/max — the scalar-
    quantization model (a dims-row table, model-sized like the centroids).

    One posexplode + groupBy(pos) pass — the same skinny-row shuffle shape
    as the k-means update step, paid once per model build.
    """
    dims = vectors.select(F.posexplode(_emb(emb_col)).alias("pos", "v"))
    return dims.groupBy("pos").agg(F.min("v").alias("dmin"), F.max("v").alias("dmax"))


def _model_row(model: DataFrame) -> DataFrame:
    """Collapse the per-dimension model to ONE row of pos-ordered arrays
    (dmins, dranges) — broadcastable next to every corpus row."""
    return model.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dmin", "dmax"))),
            lambda s: s["dmin"],
        ).alias("dmins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "dmin", "dmax"))),
            lambda s: s["dmax"] - s["dmin"],
        ).alias("dranges"),
    )


def quantize_embeddings(
    vectors: DataFrame,
    model: DataFrame,
    levels: int = 256,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(vec_id, qemb array<int>): per-dimension scalar quantization
    q_d = round((x_d − dmin_d) / (dmax_d − dmin_d) · (levels−1)) — the int8
    storage path for corpus-scale embedding tables (4× smaller than float32,
    16× than float64; constant dimensions quantize to 0).

    Scale shape: the model collapses to ONE broadcast row of pos-ordered
    arrays; quantization is then a pure per-row zip_with projection — zero
    shuffle, throughput = the scan. Deterministic and engine-portable (the
    DuckDB oracle reproduces every code).
    """
    mrow = _model_row(model)
    shifted = F.zip_with(_emb(emb_col), F.col("dmins"), lambda x, mn: x - mn)
    q = F.zip_with(
        shifted,
        F.col("dranges"),
        lambda d, r: F.when(
            r > 0, F.round(d / r * (levels - 1)).cast("int")
        ).otherwise(F.lit(0)),
    )
    return vectors.crossJoin(F.broadcast(mrow)).select(id_col, q.alias("qemb"))


def dequantize_embeddings(
    quantized: DataFrame,
    model: DataFrame,
    levels: int = 256,
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, embedding array<double>): x̂_d = dmin_d + q_d · range_d /
    (levels−1) — the reconstruction the quantized search path scores with."""
    mrow = _model_row(model)
    dq = F.zip_with(
        F.zip_with(F.col("qemb"), F.col("dranges"),
                   lambda qv, r: qv * r / (levels - 1)),
        F.col("dmins"),
        lambda v, mn: v + mn,
    )
    return quantized.crossJoin(F.broadcast(mrow)).select(id_col, dq.alias("embedding"))


def quantized_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    levels: int = 256,
    emb_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k over the QUANTIZED corpus (quantize →
    dequantize → score), probes kept exact: (probe_id, rank, neighbor_id).
    Recall against ``brute_force_topk`` measures what the storage
    compression costs in search quality (see ivf_recall)."""
    model = quantization_model(vectors, emb_col=emb_col)
    q = quantize_embeddings(vectors, model, levels=levels, emb_col=emb_col)
    deq = dequantize_embeddings(q, model, levels=levels)
    return brute_force_topk(deq, probes, k)
