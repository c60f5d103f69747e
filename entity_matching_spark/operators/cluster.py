"""S5/S6 — match edges -> entity clusters via large-star / small-star.

The reference only surfaces pairwise duplicates (engine/DuplicateDetector.java:
29-156, J1-J3 in SURVEY.md §2); transitive closure over the match-edge set is
the graft's scalable generalization (north star: "resolved into entity
clusters via iterative large-star/small-star connected components over the
match-edge DataFrame").

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14) — the two-phase star contraction that converges in O(log^2 n)
rounds on any graph and O(log n) in practice:

- large-star: for every node u, connect every strictly-larger neighbor v > u
  to the minimum of u's neighborhood-with-self m(u). Keeps the graph's
  component structure, strictly reduces large-id edges.
- small-star: for every node u, connect every neighbor v <= u (and u itself)
  to m(u). Contracts stars.

Both phases are pure DataFrame ops (groupBy + min + join); the driver loop
checkpoints each iteration (``localCheckpoint``) to sever the growing lineage
— without it the plan doubles every round and the job dies at scale long
before the data does. Convergence = edge set stable under large-star; the
fixpoint graph is a forest of depth-1 stars whose centers are the component
minima. Node ids are conv_id strings; "min" is lexicographic and
deterministic, so labels are reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, MatchConfig
from .blocking import self_pairs


def _canonical(edges: DataFrame) -> DataFrame:
    """Drop self-loops, orient src < dst, dedupe."""
    e = edges.toDF("src", "dst").where(F.col("src") != F.col("dst"))
    return e.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) both directions; emit (v, min(N(u) ∪ u)) for v > u."""
    bidir = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = bidir.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.select("src", F.least("src", "m").alias("m"))
    joined = bidir.join(m, "src")
    return (
        joined.where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; emit (v, m(u)) for v in N(u) ∪ {u}."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(m, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionAll(
        joined.select("src", "m")
    )
    return (
        out.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """Edges (conv_id_a, conv_id_b) -> labels (conv_id, cluster_id).

    cluster_id is the lexicographically-smallest member of the component.
    Singleton nodes don't appear; callers union isolated records back with
    cluster_id = own conv_id (see ``assign_clusters``).
    """
    cfg = config or DEFAULT_CONFIG
    e = _canonical(edges).localCheckpoint()

    n_prev = e.count()
    for _ in range(cfg.cc_max_iterations):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # convergence: both sides are distinct sets, so equal counts plus an
        # empty one-way difference proves set equality (one anti-join, not two)
        n2 = e2.count()
        changed = 1 if n2 != n_prev else e2.exceptAll(e).limit(1).count()
        e, n_prev = e2, n2
        if changed == 0:
            break

    # fixpoint: canonical star edges are (src=component-min, dst=member)
    labels = e.select(F.col("src").alias("cluster_id"), F.col("dst").alias("conv_id"))
    roots = e.select(F.col("src").alias("cluster_id")).distinct() \
        .select("cluster_id", F.col("cluster_id").alias("conv_id"))
    return labels.unionByName(roots).distinct()


def assign_clusters(records: DataFrame, components: DataFrame) -> DataFrame:
    """All records + cluster label; isolated records form singleton clusters."""
    return records.join(components, "conv_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "conv_id")
    )


def cluster_pairs(components: DataFrame) -> DataFrame:
    """Expand cluster labels to all intra-cluster pairs (a < b) — the
    pairwise view used for F1 evaluation against the label table."""
    return self_pairs(components.select("cluster_id", "conv_id"), ["cluster_id"], "conv_id") \
        .select("conv_id_a", "conv_id_b")
