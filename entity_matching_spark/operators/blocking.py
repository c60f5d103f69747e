"""S2/S3 — multi-pass blocking keys + candidate-pair generation (self-join).

Replaces the reference's repository lookups (group B of SURVEY.md §2): each
indexed SQL lookup (sql/findByMEI.sql, findByLEI.sql, findByEIN.sql,
findByDebtDomainId.sql, findByEmailDomain.sql, findByCleanedShortName.sql,
findByName.sql — all under /root/reference/src/main/resources/sql/) becomes a
blocking key; candidate generation becomes ONE set-oriented self-join over the
union of key passes instead of per-probe point queries.

Scale design (SURVEY.md §4.3.1 — explicit, not left to Catalyst):

- **Key-frequency cap.** Keys whose group exceeds ``config.max_block_size``
  are dropped from pair generation by ``cap_groups`` — the set-oriented
  analog of the reference's ``LIMIT 100`` (sql/findByName.sql:10). Dropped
  keys are returned, never silently ignored. ``cap_groups`` and
  ``self_pairs`` (the ``a < b`` group self-join) are also the candidate core
  of the dedup operators (operators/dedup.py) and ``cluster.cluster_pairs``.
- **One self-join for small and hot groups.** Every kept key row gets a
  bucket ``b`` and is replicated over the bucket pairs that contain it; the
  self-join key is ``(key, i, j)``. Groups larger than
  ``config.salt_threshold`` (but under the cap) take
  ``b = pmod(xxhash64(conv_id), B)`` and are replicated to the B unordered
  bucket-pairs ``(min(b,t), max(b,t))``; small groups take ``b = 0`` and ride
  the same join as the one bucket pair ``(0, 0)``. A pair of records matches
  only in group ``(min(b_a,b_b), max(b_a,b_b))``, so each (pair, key) comes
  out exactly once with no dedupe. One hot key's quadratic work is thus
  spread across B(B+1)/2 independent tasks instead of one straggler — AQE
  skew-join cannot do this for pair *generation* because the explosion
  happens after the join, not in the probe side.
- **Strategy precedence.** A pair found by several passes keeps exactly one
  row, tagged with its highest-precedence strategy — the set-oriented
  equivalent of MatchingEngine's ``processedEntityIds`` dedupe
  (engine/MatchingEngine.java:43,52,70,98) per SURVEY.md §3.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

from ..config import DEFAULT_CONFIG, MatchConfig
from ..functions.lookups import const

# Hard cap on the sorted-neighborhood boundary sample pulled to the driver
# (operators/blocking.sorted_neighborhood_keys step 1): bounds driver memory
# and the range count independently of cfg.shuffle_partitions.
SN_MAX_SAMPLE = 20_000

# Pass name -> (precedence rank, strategy tag). Precedence follows the
# reference's sequential staging: identifier passes first
# (engine/MatchingEngine.java:41-60), then fuzzy name (:62-81), then email
# (:84-108). Within identifiers, MEI > LEI > EIN > DD mirrors
# IdentifierMatcher's pass order (engine/IdentifierMatcher.java:26-76).
BLOCKING_PASSES = {
    "mei": (1, "IDENTIFIER"),
    "lei": (2, "IDENTIFIER"),
    "ein": (3, "IDENTIFIER"),
    "debt_domain": (4, "IDENTIFIER"),
    "cleanname": (5, "FUZZY_NAME"),   # sql/findByCleanedShortName.sql
    "nametok": (6, "FUZZY_NAME"),     # recall-equivalent of LIKE %name% (B5)
    "sorted_neighborhood": (7, "FUZZY_NAME"),
    "email_domain": (8, "EMAIL_DOMAIN"),  # sql/findByEmailDomain.sql
}

# The exact-key passes: a pair sharing one of these keys is a J1/J2 duplicate
# (identifier equality, cleaned-short-name equality;
# engine/DuplicateDetector.java:32-84), read by score.duplicate_flags and the
# pipeline's duplicate-edge union.
DUPLICATE_KEY_PASSES = ("mei", "lei", "ein", "cleanname")


def _key(pass_name: str, col) -> F.Column:
    return F.concat(F.lit(pass_name + ":"), col)


def _pass_map(field: int) -> F.Column:
    """``BLOCKING_PASSES`` as one map: pass -> rank (0) or strategy tag (1)."""
    return const({name: row[field] for name, row in BLOCKING_PASSES.items()})


def cap_groups(
    rows: DataFrame, on: list[str], cap: int | None, n: str = "n"
) -> tuple[DataFrame, DataFrame]:
    """Group-size cap, the set-oriented ``LIMIT 100`` (sql/findByName.sql:10)
    of every candidate join: ``(kept, dropped)`` — the rows of groups (rows
    sharing every ``on`` column) of at most ``cap`` rows, each carrying its
    group size ``n``, and the over-cap ``(*on, n)`` profile, reported rather
    than silently discarded. ``cap=None`` keeps every group.

    Group sizes via groupBy + shuffle join. Deliberately NO broadcast hint:
    the distinct-key table scales with the data (every name token is a key),
    so a forced broadcast becomes a driver bottleneck that grows with input
    size; AQE still auto-broadcasts when the counts side is genuinely small.
    A count-window alternative would buffer whole hot-key partitions.
    """
    counts = rows.groupBy(*on).agg(F.count("*").alias(n))
    over = F.lit(False) if cap is None else F.col(n) > cap
    return rows.join(counts.where(~over), on), counts.where(over)


def self_pairs(rows: DataFrame, on: list[str], first: str) -> DataFrame:
    """Each pair of ``rows`` sharing every ``on`` column, once, with
    ``{first}_a < {first}_b``; every other column ``c`` comes out as ``c_a``
    and ``c_b``. The candidate self-join of every capped group."""
    rest = [c for c in rows.columns if c not in on]
    a, b = (rows.select(*on, *[F.col(c).alias(f"{c}_{s}") for c in rest]) for s in "ab")
    return a.join(b, on).where(F.col(f"{first}_a") < F.col(f"{first}_b"))


def _best_pass(raw: DataFrame) -> DataFrame:
    """Strategy precedence over raw (conv_id_a, conv_id_b, pass, key) rows:
    one row per pair at its min (rank, pass, key), renamed to the pair
    contract (conv_id_a, conv_id_b, strategy, pass, block_key). Duplicate raw
    rows cannot change the result."""
    m = F.min(F.struct(_pass_map(0)[F.col("pass")].alias("rank"), "pass", "key"))
    return (
        raw.groupBy("conv_id_a", "conv_id_b")
        .agg(m.alias("m"))
        .select(
            "conv_id_a", "conv_id_b",
            _pass_map(1)[F.col("m.pass")].alias("strategy"),
            F.col("m.pass").alias("pass"),
            F.col("m.key").alias("block_key"),
        )
    )


def _fuzzy_window(probe: str, other: str) -> WindowSpec:
    """Per-probe fuzzy candidate order (see ``cap_candidates_per_probe``)."""
    return Window.partitionBy(probe).orderBy(
        _pass_map(0)[F.col("pass")].asc(), F.col("block_key"), F.col(other)
    )


def generate_blocking_keys(records: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """S2: (conv_id, pass, key) — one row per record per firing blocking pass.

    Input is the S1 records table (operators/assemble.build_records). All key
    derivations are native column expressions (whole-stage codegen; no UDF).
    """
    cfg = config or DEFAULT_CONFIG

    # All equi-key passes in ONE scan of the records table: per record build
    # an array of (pass, key) structs, compact out the null-valued ones, and
    # explode. One column-pruned scan + one explode instead of 7 scans.
    def entry(pass_name: str, key_col):
        return F.when(
            key_col.isNotNull(),
            F.struct(F.lit(pass_name).alias("pass"), _key(pass_name, key_col).alias("key")),
        )

    enabled = set(cfg.blocking_passes)
    equi_cols = {
        # B1/B2/B4 equi-keys; B3 hyphen-stripped EIN (sql/findByEIN.sql:2)
        "mei": F.col("mei"),
        "lei": F.col("lei"),
        "ein": F.col("ein_nohyphen"),
        "debt_domain": F.col("debt_domain_id"),
        # B7 cleaned-name key (sql/findByCleanedShortName.sql + caller
        # pre-clean at repository/LoanIQRepository.java:168-173)
        "cleanname": F.col("clean_name_key"),
        # B6 email-domain key
        "email_domain": F.col("email_domain"),
    }
    equi_keys = F.array_compact(
        F.array(*[entry(n, c) for n, c in equi_cols.items() if n in enabled])
    )
    # B5 analog: token keys over the D6-normalized legal name. The LIKE
    # %name% contains-scan cannot scale as a self-join; token co-occurrence
    # gives equivalent-or-better recall for multi-token names (SURVEY.md §2 B5)
    tokens = F.array_distinct(
        F.filter(
            F.split(F.coalesce("norm_legal_name", F.lit("")), r"\s+"),
            lambda t: F.length(t) >= cfg.name_token_min_len,
        )
    )
    tok_keys = (
        F.transform(
            tokens,
            lambda t: F.struct(F.lit("nametok").alias("pass"), _key("nametok", t).alias("key")),
        )
        if "nametok" in enabled
        else F.array().cast("array<struct<pass:string,key:string>>")
    )
    flat = records.select(
        "conv_id", F.explode(F.concat(equi_keys, tok_keys)).alias("pk")
    ).select("conv_id", F.col("pk.pass").alias("pass"), F.col("pk.key").alias("key"))

    if "sorted_neighborhood" in enabled:
        flat = flat.unionByName(sorted_neighborhood_keys(records, cfg))
    return flat


def sorted_neighborhood_keys(records: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """Distributed, DETERMINISTIC sorted-neighborhood pass over the
    normalized legal name.

    Scalable formulation with reproducible output (repartitionByRange is NOT
    used — its boundary sampling is seeded per-plan, so two runs at different
    parallelism emit different tiles):

    1. deterministic boundary sample: rows whose ``xxhash64(snk, conv_id)``
       falls in a fixed residue class (bounded size, collected to the driver,
       independent of partitioning);
    2. range-id assignment by binary-search-free comparison against the
       broadcast boundary array (``size(filter(bounds, b -> b <= snk))``);
    3. partition-local rank via a window over each range id;
    4. global rank = driver-computed cumulative range offsets + local rank.

    Each record then emits two overlapping tile keys, ``floor(rank/w)`` and
    ``floor((rank + ceil(w/2))/w)``, so any two records within ``ceil(w/2)``
    sort positions share a tile — the standard scalable SN approximation.
    """
    cfg = config or DEFAULT_CONFIG
    w = max(cfg.sorted_neighborhood_window, 2)

    sk = records.select(
        "conv_id",
        F.coalesce("norm_legal_name", F.lit("")).alias("snk"),
    ).where(F.col("snk") != "")
    n_parts = max(2, cfg.shuffle_partitions)

    # 1. deterministic sample. Target ~20 rows per range, HARD-CAPPED at
    #    SN_MAX_SAMPLE so a cluster-scale ``shuffle_partitions`` (thousands)
    #    cannot turn the driver collect into an unbounded pull — the cap
    #    trades range granularity (bigger ranges, same correctness) for a
    #    fixed driver memory bound.
    total = sk.count()
    if total == 0:
        return sk.select(
            "conv_id", F.lit("sorted_neighborhood").alias("pass"), F.lit("").alias("key")
        ).limit(0)
    target_sample = min(n_parts * 20, SN_MAX_SAMPLE)
    mod = max(1, total // max(target_sample, 1))
    sample = (
        sk.where(F.pmod(F.xxhash64("snk", "conv_id"), F.lit(mod)) == 0)
        .select("snk").orderBy("snk").collect()
    )
    svals = [r["snk"] for r in sample]
    step = max(1, len(svals) // n_parts)
    bounds = sorted(set(svals[step::step]))  # interior boundaries only

    # one const() array: thousands of ranges cost one py4j round trip, and
    # the optimizer folds the array to a single Literal
    bounds_arr = const(bounds).cast("array<string>")
    rid = F.size(F.filter(bounds_arr, lambda b: b <= F.col("snk")))
    sk = sk.withColumn("rid", rid)
    win = Window.partitionBy("rid").orderBy("snk", "conv_id")
    sk = sk.withColumn("lidx", F.row_number().over(win))

    # per-range counts -> cumulative offsets; the collect is bounded by the
    # number of ranges (<= len(bounds)+1 <= target_sample). bigint offsets:
    # int ``gidx`` arithmetic overflows under ANSI once a range straddles 2^31
    counts = {r["rid"]: r["cnt"] for r in sk.groupBy("rid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for r in sorted(counts):
        offsets[r] = acc
        acc += counts[r]
    offset_map = const(offsets).cast("map<int,bigint>")

    gidx = (offset_map[F.col("rid")] + F.col("lidx") - 1).alias("gidx")
    sk = sk.select("conv_id", gidx)
    half = max(1, (w + 1) // 2)
    k1 = sk.select(
        "conv_id",
        F.lit("sorted_neighborhood").alias("pass"),
        _key("sorted_neighborhood", F.floor(F.col("gidx") / w).cast("string")).alias("key"),
    )
    k2 = sk.select(
        "conv_id",
        F.lit("sorted_neighborhood").alias("pass"),
        _key("sorted_neighborhood", F.floor((F.col("gidx") + half) / w).cast("string")).alias("key"),
    )
    return k1.unionByName(k2).distinct()


def generate_cross_pairs(
    probe_keys: DataFrame, corpus_keys: DataFrame, config: MatchConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Cross-only candidate pairs: probe records vs an existing corpus.

    The incremental/streaming analog of ``generate_pairs``: each probe key
    row joins the corpus rows sharing that key — NO corpus-corpus self-join
    (the corpus was already pair-generated when its records arrived), so a
    micro-batch's work is |batch keys| x matching-group, independent of
    corpus size. Groups are capped by the CORPUS-side frequency
    (``max_block_size``, dropped keys returned); output orientation is
    (conv_id_a = probe, conv_id_b = corpus), one row per pair at its
    highest-precedence pass — same contract as ``generate_pairs``.
    """
    cfg = config or DEFAULT_CONFIG
    ok, dropped = cap_groups(corpus_keys, ["key"], cfg.max_block_size)
    a = probe_keys.select("key", F.col("conv_id").alias("conv_id_a"), "pass")
    b = ok.select("key", F.col("conv_id").alias("conv_id_b"))
    raw = a.join(b, "key").where(F.col("conv_id_a") != F.col("conv_id_b"))
    return _best_pass(raw), dropped


def cap_candidates_per_probe(pairs: DataFrame, config: MatchConfig | None = None) -> DataFrame:
    """Per-probe cap on fuzzy-name candidates — the set-oriented analog of
    ``LIMIT 100`` + the exact-full/exact-short ORDER BY tiering in
    sql/findByName.sql:5-10.

    Applies only to FUZZY_NAME-strategy pairs (identifier hits are exact and
    uncapped in the reference too). Ordering: blocking-pass precedence first —
    the ``cleanname`` pass IS an exact cleaned-short-name equality, so it
    lands ahead of token/sorted-neighborhood candidates, mirroring the
    reference's ``CASE WHEN exact THEN 1 WHEN exact-short THEN 2 ELSE 3`` —
    then (block_key, conv_id_b) for determinism. The window partitions by
    probe id, so no global sort: each probe's candidate list ranks
    independently within its shuffle partition.
    """
    cfg = config or DEFAULT_CONFIG
    n = cfg.max_candidates_per_probe
    if not n:
        return pairs
    is_fuzzy = F.col("strategy") == "FUZZY_NAME"
    fuzzy = (
        pairs.where(is_fuzzy)
        .withColumn("_cand_rank", F.row_number().over(_fuzzy_window("conv_id_a", "conv_id_b")))
        .where(F.col("_cand_rank") <= n)
        .drop("_cand_rank")
    )
    return pairs.where(~is_fuzzy).unionByName(fuzzy)


def cap_fuzzy_fanout(
    pairs: DataFrame, config: MatchConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Symmetric per-record cap on fuzzy-name candidates for the SELF-LINKAGE
    pair set — the batch-path analog of ``cap_candidates_per_probe``.

    In self-linkage every record is a probe, and a pair (a, b) would be
    produced by probing a (finds b) OR probing b (finds a); the reference
    keeps a candidate that survives either probe's ``LIMIT 100``
    (sql/findByName.sql:8-10), so the pair is KEPT if it ranks within the
    top-``max_candidates_per_probe`` of EITHER endpoint's candidate list.
    Each endpoint's list is ranked in ``cap_candidates_per_probe``'s order
    (``_fuzzy_window``).

    Returns ``(kept, dropped)``; dropped pairs are reported, never silently
    discarded (same discipline as ``generate_pairs``'s hot-key profile).
    Identifier and email pairs pass through uncapped — the reference's
    identifier lookups have no LIMIT. Cost: two window shuffles over the
    FUZZY_NAME subset only, each partitioned by a record id, so no global
    sort and no unbounded partition: a record's candidate list is already
    bounded by sum-of-its-block-sizes <= n_keys x max_block_size.

    The ranked fuzzy subset is materialized (localCheckpoint) before the
    kept/dropped split — callers WRITE both outputs (the pipeline checkpoints
    kept as s3_pairs and dropped as s3_dropped_candidates), which would
    otherwise re-execute the entire upstream blocking DAG once per output.
    The materialization is bounded by the candidate-pair count, which is
    about to be persisted anyway. ``max_candidates_per_probe=0`` disables the
    cap: every pair is kept and the dropped frame is empty.
    """
    cfg = config or DEFAULT_CONFIG
    n = cfg.max_candidates_per_probe
    is_fuzzy = F.col("strategy") == "FUZZY_NAME"
    if not n:
        return pairs, pairs.where(is_fuzzy).limit(0)
    ranked = (
        pairs.where(is_fuzzy)
        .withColumns({
            "_ra": F.row_number().over(_fuzzy_window("conv_id_a", "conv_id_b")),
            "_rb": F.row_number().over(_fuzzy_window("conv_id_b", "conv_id_a")),
        })
        .localCheckpoint()
    )
    keep = (F.col("_ra") <= n) | (F.col("_rb") <= n)
    kept = ranked.where(keep).drop("_ra", "_rb")
    dropped = ranked.where(~keep).drop("_ra", "_rb")
    return pairs.where(~is_fuzzy).unionByName(kept), dropped


def profile_block_keys(keys: DataFrame) -> DataFrame:
    """Key-frequency profile: (pass, key, n_records, n_pairs). Hot-key radar."""
    return keys.groupBy("pass", "key").agg(
        F.count("*").alias("n_records"),
        (F.count("*") * (F.count("*") - 1) / 2).cast("long").alias("n_pairs"),
    )


def generate_pairs(
    keys: DataFrame, config: MatchConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """S3: candidate pairs with strategy precedence.

    Returns ``(pairs, dropped_keys)`` where pairs has
    (conv_id_a, conv_id_b, strategy, pass, block_key) with conv_id_a <
    conv_id_b, exactly one row per pair; dropped_keys is the over-cap profile
    (never silently discarded — the caller logs it, SURVEY.md §4.3.1).
    """
    cfg = config or DEFAULT_CONFIG
    B = max(2, cfg.salt_buckets)
    kept, dropped = cap_groups(keys, ["key"], cfg.max_block_size)

    # one self-join on (key, i, j) for every group (see module docstring):
    # hot rows fan out over the B bucket pairs holding their bucket, small
    # groups sit at (0, 0) and join exactly as a plain per-key self-join
    hot = F.col("n") > cfg.salt_threshold
    bucket = F.when(hot, F.pmod(F.xxhash64("conv_id"), F.lit(B))).otherwise(0).cast("int")
    fan = F.when(hot, F.sequence(F.lit(0), F.lit(B - 1))).otherwise(F.array(F.lit(0)))
    exp = (
        kept.select("key", "pass", "conv_id", bucket.alias("b"), F.explode(fan).alias("t"))
        .withColumns({"i": F.least("b", "t"), "j": F.greatest("b", "t")})
    )
    on = ["key", "i", "j"]
    a = exp.select(*on, "pass", F.col("conv_id").alias("conv_id_a"), F.col("b").alias("b_a"))
    b = exp.select(*on, F.col("conv_id").alias("conv_id_b"), F.col("b").alias("b_b"))
    # a pair x < y under one key passes only in group (min(bx,by), max(bx,by))
    raw = a.join(b, on).where(
        (F.col("conv_id_a") < F.col("conv_id_b"))
        & (F.least("b_a", "b_b") == F.col("i"))
        & (F.greatest("b_a", "b_b") == F.col("j"))
    )
    return _best_pass(raw), dropped
