"""Corpus deduplication operators (training-data pipeline family).

Every near-duplicate operator here has one shape: a candidate join, then an
exact confirm. Candidates are the pairs sharing a key group (a token, an
n-gram, an LSH band bucket, a k-gram hash, an IVF cell). The group-size cap
is ``blocking.cap_groups``: groups over the cap are stopword-grade or
boilerplate hot keys that add quadratic work and discriminate nothing, so
they are excluded from the join and RETURNED as a dropped profile, never
silently discarded. ``blocking.self_pairs`` pairs each group once
(``a < b``). The confirm recomputes the similarity EXACTLY over the full
token sets, shingle sets, vectors or texts, so a cap affects candidate
recall only, never a reported score.

- exact: ``exact_duplicates`` (md5 hash-groupBy, the always-first pass).
- set Jaccard: ``token_jaccard_pairs`` (words, blocked per source),
  ``ngram_jaccard_pairs`` (character n-grams), ``minhash_lsh_pairs`` and
  ``minhash_verified_pairs`` (banded MinHash over word shingles, the
  sub-quadratic corpus-vs-corpus path; the md5-derived hash family is
  engine-independent, so the DuckDB oracle reproduces exact signatures).
- Hamming: ``simhash_signatures`` and ``simhash_near_dup_pairs`` (60-bit
  SimHash, band-blocked), with ``simhash60_py`` the scalar streaming twin.
- cosine: ``embedding_lsh_pairs`` (sign-LSH over ``rp_hyperplanes``) and
  ``embedding_near_dup_pairs`` (IVF-cell blocking).
- substrings: ``substring_duplicate_spans`` finds byte-identical spans
  shared across documents; ``remove_duplicate_spans`` splices them out.
- ``canonical_docs`` collapses any operator's pairs into clusters and keeps
  one document per cluster; ``fingerprints`` is a winnowing-style document
  fingerprint for container-level dedup and provenance.

No reference analog (graft-brief requirement beyond fmateoc/entity-matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.lookups import const
from .blocking import cap_groups, self_pairs


def _tokens(docs: DataFrame, id_col: str, text_col: str, extra: list[str]) -> DataFrame:
    return docs.select(
        id_col, *extra, F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok")
    ).where(F.col("tok") != "")


def _shingles(text_col: str, k: int) -> F.Column:
    """Distinct ``k``-word shingles of ``text_col``. A doc shorter than k
    words is one shingle; an empty or whitespace-only doc has none (its
    ``''`` shingle would give every empty doc one signature, a mega-bucket
    in every band; ``exact_duplicates`` already groups them)."""
    arr = F.filter(F.split(text_col, " "), lambda t: t != "")
    return F.filter(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(arr) - (k - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(arr, i, k)),
            )
        ),
        lambda t: t != "",
    )


def _jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard confirm: ``cand`` (doc_a, doc_b) pairs joined to both
    docs' distinct sets ``sets`` (doc, arr) -> (doc_a, doc_b, jaccard), with
    jaccard rounded to 9 places and >= ``threshold``."""
    a, b = (
        sets.select(F.col("doc").alias(f"doc_{s}"), F.col("arr").alias(f"arr_{s}")) for s in "ab"
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jaccard = F.round(inter / (F.size("arr_a") + F.size("arr_b") - inter), 9)
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _set_jaccard_pairs(
    toks: DataFrame, on: list[str], df_cap: int, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """The token and n-gram Jaccard core over distinct (doc, *on) rows whose
    ``on`` ends in ``tok``: candidates share a group of at most ``df_cap``
    docs, confirmed by exact Jaccard over each doc's full ``tok`` set.
    Returns ``(pairs, dropped)``; dropped is the over-cap (*on, df)."""
    kept, dropped = cap_groups(toks, on, df_cap, n="df")
    cand = self_pairs(kept.select("doc", *on), on, "doc").select("doc_a", "doc_b").distinct()
    sets = toks.groupBy("doc").agg(F.collect_set("tok").alias("arr"))
    return _jaccard(cand, sets, threshold), dropped


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(text_hash, canonical_doc, n_copies) — canonical = min id per hash."""
    return (
        docs.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(F.min(id_col).alias("canonical_doc"), F.count("*").alias("n_copies"))
    )


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: int = 50,
    block_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate pairs by token Jaccard.

    Candidates share at least one token present in at most ``df_cap``
    documents of their ``block_col`` value; pairs whose every shared token
    is over-cap are the only losses (stopword soup, not near-duplicates).

    Returns ``(pairs, dropped_tokens)``: pairs is (doc_a, doc_b, jaccard >=
    threshold) with doc_a < doc_b; dropped_tokens is the over-cap token
    profile (block, tok, df) the candidate join ignored.
    """
    toks = _tokens(docs, id_col, text_col, [block_col]).withColumnRenamed(id_col, "doc")
    return _set_jaccard_pairs(toks, [block_col, "tok"], df_cap, threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs sharing any LSH band bucket.

    k=num_hashes md5-based minhashes over ``shingle``-word shingles, banded
    ``rows_per_band`` rows each. Word-level shingling keeps the hash family
    discriminative (single tokens share a tiny vocabulary and collide into
    useless mega-buckets). Output: (doc_a, doc_b, band), distinct.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), F.explode(_shingles(text_col, shingle)).alias("tok")
    )
    # all k minhashes as PARALLEL aggregate expressions over the (doc,
    # shingle) rows — one groupBy with k min() columns instead of exploding
    # k x rows through the shuffle. A per-row array_min fold was tried
    # (round 4) and reverted: higher-order-function lambdas evaluate
    # INTERPRETED, so the k md5s per shingle ran several times slower than
    # this whole-stage-codegen explode, and losing the shuffle boundary made
    # the band join recompute the signatures per plan reference. One shuffle
    # of map-side-combined k-column partials per doc is the right trade.
    sig = toks.groupBy("doc").agg(*[
        F.min(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("tok"))), 1, 12)
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ])
    n_bands = num_hashes // rows_per_band

    def bucket(b: int) -> F.Column:
        parts = [
            F.concat_ws(":", F.lit(str(i)), F.col(f"mh{i}"))
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        return F.concat_ws("_", F.sort_array(F.array(*parts)))

    bands_arr = F.array(*[
        F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket")) for b in range(n_bands)
    ])
    band = sig.select("doc", F.explode(bands_arr).alias("bb")).select(
        "doc", "bb.band", "bb.bucket"
    )
    return self_pairs(band, ["band", "bucket"], "doc").select("doc_a", "doc_b", "band").distinct()


def minhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidates confirmed by EXACT shingle-set Jaccard.

    The end-to-end 100 TB near-dup recipe in one operator: banded-LSH
    candidate generation (sub-quadratic — ``minhash_lsh_pairs``) followed by
    an exact Jaccard over the SAME word-shingle sets the signatures
    summarize, thresholded. Computing Jaccard on the shingle sets (not raw
    tokens) keeps the confirm step measuring exactly the quantity the LSH
    S-curve approximates, so ``threshold`` has one consistent meaning across
    both stages. The exact join touches only LSH candidates, never all
    pairs, so the quadratic term stays bounded by bucket sizes.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    cand = minhash_lsh_pairs(
        docs, num_hashes=num_hashes, rows_per_band=rows_per_band,
        shingle=shingle, text_col=text_col, id_col=id_col,
    ).select("doc_a", "doc_b").distinct()
    sets = docs.select(F.col(id_col).alias("doc"), _shingles(text_col, shingle).alias("arr"))
    return _jaccard(cand, sets, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    df_cap: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate pairs by CHARACTER n-gram Jaccard.

    The character-level sibling of ``token_jaccard_pairs`` — robust to
    whitespace/punctuation edits that shift token boundaries (the classic
    failure mode of word-token Jaccard on OCR'd or template-mangled text).
    Same candidate core: an inverted-index join over n-grams whose document
    frequency is <= ``df_cap`` (boilerplate grams shared by everything add
    quadratic hot keys and no discrimination), then the EXACT Jaccard over
    each candidate pair's full distinct-n-gram sets.

    Returns ``(pairs, dropped_grams)``: pairs is (doc_a, doc_b, jaccard >=
    threshold) with doc_a < doc_b; dropped_grams is (tok, df) for over-cap
    n-grams. All native (substring/sequence/array ops — no Python).
    """
    grams_expr = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))),
                lambda i: F.col(text_col).substr(i, F.lit(n)),
            ),
            # docs shorter than n chars yield truncated/empty grams; keep only
            # full-width grams so every gram means the same thing corpus-wide
            lambda g: F.length(g) == n,
        )
    )
    toks = docs.select(F.col(id_col).alias("doc"), F.explode(grams_expr).alias("tok"))
    return _set_jaccard_pairs(toks, ["tok"], df_cap, threshold)


def rp_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH: ``n_planes``
    lists of ``dim`` doubles in [-1, 1), derived from md5(plane|dim) — the
    same engine-portable hash-family trick as the MinHash/SimHash operators,
    evaluated ONCE on the driver (model constants, like the IVF centroid
    table) instead of per row. value = int(md5(f"{p}|{d}")[:8], 16) / 2^31 - 1
    — exact binary scaling, so any engine reproducing the formula gets
    bit-identical doubles."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16) / 2147483648.0 - 1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def embedding_lsh_pairs(
    vectors: DataFrame,
    n_planes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.3,
    dim: int = 64,
    bucket_cap: int | None = 100_000,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Embedding near-duplicate pairs by random-hyperplane (sign) LSH —
    the LSH-bucketed alternative to the IVF-cell blocking of
    ``embedding_near_dup_pairs``.

    Each vector gets an ``n_planes``-bit signature (bit p = sign of the dot
    product with deterministic hyperplane p; P[bits agree] = 1 - angle/pi),
    split into bands of ``rows_per_band`` bits. Candidates are pairs sharing
    any (band, bkey) — an equi-join shuffling on the band key, never
    all-pairs — then the EXACT cosine confirms ``>= threshold``. Unlike IVF
    cells, LSH needs no trained centroid model and recall is tunable purely
    by n_planes/rows_per_band (more, narrower bands -> higher recall, more
    candidates); the trade is that bucket sizes follow the data's angular
    clustering rather than a k-means balance.

    The dot products run JVM-side (``zip_with`` + left-fold ``aggregate``
    against literal hyperplane arrays — model constants in the plan, zero
    per-row hashing); band buckets over ``bucket_cap`` docs are excluded
    and RETURNED (``cap_groups``; ``bucket_cap=None`` keeps every bucket).

    Returns ``(pairs, dropped_buckets)``: pairs is (vec_a, vec_b, cos) with
    vec_a < vec_b, cos >= threshold; dropped_buckets is (band, bkey, n_docs).
    """
    from .ann import cosine

    planes = rp_hyperplanes(n_planes, dim)
    emb = F.col(emb_col).cast("array<double>")

    def bit(p: int) -> F.Column:
        hp = const(planes[p])
        dot = F.aggregate(
            F.zip_with(emb, hp, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )
        return (dot > 0).cast("long")

    sig_col = sum((bit(p) * (1 << p) for p in range(n_planes)), F.lit(0))
    sig = vectors.select(F.col(id_col).alias("vec"), emb.alias("emb"), sig_col.alias("sig"))
    n_bands = n_planes // rows_per_band
    mask = (1 << rows_per_band) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"(sig >> {rows_per_band * b}) & {mask}").alias("bkey"),
        )
        for b in range(n_bands)
    ])
    keyed = sig.select("vec", F.explode(bands).alias("bb")).select("vec", "bb.band", "bb.bkey")
    kept, dropped = cap_groups(keyed, ["band", "bkey"], bucket_cap, n="n_docs")
    # distinct on ids only — the dedup shuffle carries 2 longs per candidate,
    # not the 64-double embeddings, which join back in afterwards
    cand = self_pairs(kept, ["band", "bkey"], "vec").select("vec_a", "vec_b").distinct()
    v = sig.select("vec", "emb")
    pairs = (
        cand.join(v.select(F.col("vec").alias("vec_a"), F.col("emb").alias("emb_a")), "vec_a")
        .join(v.select(F.col("vec").alias("vec_b"), F.col("emb").alias("emb_b")), "vec_b")
        .select(
            "vec_a", "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 9).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )
    return pairs, dropped


SIMHASH_BITS = 60  # positive in signed BIGINT -> engine-portable oracle
SIMHASH_BANDS = 4  # 4 x 15-bit bands: pigeonhole exact at Hamming <= 3
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_BITS) - 1


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash from md5-derived per-token bit
    vectors; all bit arithmetic native (conv + shiftright), no Python.

    60 bits = 15 hex chars of md5, so the signature is always positive in a
    signed 64-bit long and the DuckDB oracle can rebuild it exactly with
    ``('0x' || substr(md5(tok), 1, 15))::BIGINT``.

    Scale shape: ONE token-row shuffle (down from the round-2/3 formulation's
    explode to 60 rows PER TOKEN followed by TWO corpus-wide groupBys). Each
    token row carries its 60-bit md5 value once; a single groupBy(doc_id)
    computes all 60 per-bit majority counts as PARALLEL conditional-sum
    aggregates (map-side combined — the shuffle moves one 60-column partial
    per doc per map partition, not token rows), and the final signature is a
    native bit-sum over the 60 count columns. Everything is whole-stage
    codegen. A fully shuffle-free per-row nested-HOF fold was tried (round
    4) and reverted: higher-order-function lambdas evaluate INTERPRETED, so
    the 60 x tokens bit loop ran several times slower than this codegen
    explode, and losing the shuffle boundary made downstream band joins
    recompute signatures per plan reference. Output is bit-identical across
    all three formulations (integer sums, order-free), pinned by the driver
    oracle and the blocked≡brute-force test. Docs with no tokens emit no row.
    """
    toks = _tokens(docs, id_col, text_col, [])
    hv = F.conv(F.substring(F.md5("tok"), 1, SIMHASH_BITS // 4), 16, 10).cast("long")
    counts = toks.select(id_col, hv.alias("hv")).groupBy(id_col).agg(*[
        F.sum(F.expr(f"(shiftright(hv, {b}) & 1) * 2 - 1")).alias(f"c{b}")
        for b in range(SIMHASH_BITS)
    ])
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.expr(f"shiftleft(cast(c{b} > 0 as bigint), {b})")
        sig = term if sig is None else sig + term
    return counts.select(id_col, sig.alias("simhash"))


def simhash60_py(text: str | None) -> int:
    """Scalar Python replica of ``simhash_signatures`` for the STREAMING
    path (one document at a time inside an Arrow batch, where the explode +
    two-groupBy batch formulation doesn't apply). Bit-identical to the
    native operator: same single-space tokenization, distinct non-empty
    tokens, md5-derived 60-bit per-token vectors, majority per bit.
    Pinned equal in tests/test_streaming.py. Empty/None text -> 0 (the batch
    operator has no row to emit for a token-less doc; the streaming path
    needs a value, and 0 groups all empty docs as exact duplicates).
    """
    import hashlib

    toks = {t for t in (text or "").split(" ") if t}
    if not toks:
        return 0
    counts = [0] * SIMHASH_BITS
    for tok in toks:
        hv = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[: SIMHASH_BITS // 4], 16)
        for bit in range(SIMHASH_BITS):
            counts[bit] += 1 if (hv >> bit) & 1 else -1
    sig = 0
    for bit in range(SIMHASH_BITS):
        if counts[bit] > 0:
            sig |= 1 << bit
    return sig


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int | None = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate pairs by SimHash Hamming distance, 15-bit-band blocked.

    The 60-bit signature splits into 4 bands of 15 bits; by pigeonhole, any
    pair within Hamming distance 3 agrees on at least one whole band, so
    candidates are pairs sharing (band, bkey) — an equi-join, never
    all-pairs — and the exact popcount-of-xor filter keeps those within
    ``max_hamming``. 15-bit bands give 32,768 bucket values per band (the
    round-2 byte-band design had 256, which saturates ~n²/256 at corpus
    scale). For ``max_hamming`` > 3 the band guarantee weakens to a recall
    heuristic (documented standard SimHash practice).

    ``bucket_cap`` bounds the residual hot buckets (boilerplate-heavy
    corpora collapse many docs onto one signature prefix): band buckets
    holding more than ``bucket_cap`` docs are excluded from the candidate
    join and RETURNED, never silently discarded (``cap_groups``).
    ``bucket_cap=None`` disables the cap (exact mode, used by the
    brute-force-equality test).

    All native bit arithmetic. Returns ``(pairs, dropped_buckets)``: pairs
    is (doc_a, doc_b, hamming) with doc_a < doc_b; dropped_buckets is
    (band, bkey, n_docs) for over-cap buckets.
    """
    sig = simhash_signatures(docs, text_col=text_col, id_col=id_col)
    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.expr(f"(simhash >> {_BAND_BITS * i}) & {_BAND_MASK}").alias("bkey"),
        )
        for i in range(SIMHASH_BANDS)
    ])
    keyed = sig.select(
        F.col(id_col).alias("doc"), F.col("simhash").alias("sig"), F.explode(bands).alias("bb")
    ).select("doc", "sig", "bb.band", "bb.bkey")
    kept, dropped = cap_groups(keyed, ["band", "bkey"], bucket_cap, n="n_docs")
    cand = (
        self_pairs(kept, ["band", "bkey"], "doc")
        .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
    )
    ham = F.bit_count(F.expr("sig_a ^ sig_b"))
    pairs = (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs, dropped


def embedding_near_dup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-cell-blocked.

    Candidates are pairs assigned to the SAME coarse cell (ann.assign_cells);
    cosine is computed exactly for candidates and thresholded. Same scale
    shape as the ER blocking self-join: the pair join shuffles on
    ``centroid_id`` and each cell's quadratic work is bounded by cell size
    (centroid count is the knob). Near pairs straddling a cell boundary are
    the recall loss — mitigate with more probes per vector or finer cells;
    the exact-within-cell semantics make the operator oracle-checkable.

    Output: (vec_a, vec_b, cos) with vec_a < vec_b, cos >= threshold.
    """
    from .ann import assign_cells, cosine

    assign = assign_cells(vectors, centroids)
    v = vectors.join(assign, id_col).select(
        F.col(id_col).alias("vec"), "centroid_id",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    pairs = self_pairs(v, ["centroid_id"], "vec").select(
        "vec_a", "vec_b", F.round(cosine(F.col("emb_a"), F.col("emb_b")), 9).alias("cos")
    )
    return pairs.where(F.col("cos") >= threshold)


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    quality: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse near-duplicate PAIRS into clusters and pick one canonical
    document per cluster — the keep/drop decision that completes the 100 TB
    dedup recipe (candidates -> exact confirm -> transitive closure ->
    canonical selection).

    ``pairs`` is (doc_a, doc_b, ...) from any near-dup operator
    (minhash_verified_pairs, simhash_near_dup_pairs, token_jaccard_pairs...).
    Clusters are the transitive closure via the same large-star/small-star
    connected-components loop the ER pipeline uses (operators/cluster.py) —
    A~B, B~C puts {A, B, C} in one cluster even when A-C never paired.
    Canonical = the highest-``quality`` member (default: text.quality_scores
    over ``docs``), ties broken by smallest doc_id — deterministic because
    quality is a pure rounded function of the text.

    Scale shape: CC shuffles edges only (two longs per pair); the per-cluster
    argmax is one window over cluster_id, bounded by cluster size (which the
    upstream pair operators already bound via their bucket/df caps).

    Contracts (fail loudly, never shift the pick silently): ``pairs`` MUST
    carry ``doc_a``/``doc_b`` columns (every near-dup operator in this module
    emits exactly those names; anything else raises here instead of failing
    deep inside the CC loop), and every clustered doc MUST have a quality row
    — the join is LEFT + a distributed ``assert_true`` guard, so a missing
    member aborts the job with the offending doc_id rather than quietly
    changing which copy a cluster keeps (an inner join would drop it).

    Output: one row per CLUSTERED doc (singletons are implicitly kept):
    (doc_id, cluster_id, canonical_doc, keep).
    """
    from .cluster import connected_components
    from .text import quality_scores

    missing = {"doc_a", "doc_b"} - set(pairs.columns)
    if missing:
        raise ValueError(
            f"canonical_docs: pairs is missing column(s) {sorted(missing)}; "
            "near-dup pair frames must use doc_a/doc_b "
            f"(got columns {pairs.columns})"
        )
    cc = connected_components(pairs.select("doc_a", "doc_b"))
    labels = cc.select(F.col("conv_id").alias(id_col), "cluster_id")
    if quality is None:
        quality = quality_scores(docs, text_col=text_col, id_col=id_col).select(
            id_col, "quality"
        )
    from pyspark.sql.window import Window

    # coalesce evaluates lazily: the assert only fires on a row whose quality
    # is NULL after the left join, aborting with the offending doc_id
    guard = F.assert_true(
        F.col("quality").isNotNull(),
        F.concat(
            F.lit("canonical_docs: clustered doc has no quality row: "),
            F.col(id_col).cast("string"),
        ),
    ).cast("double")
    scored = labels.join(quality, id_col, "left").withColumn(
        "quality", F.coalesce(F.col("quality"), guard)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col(id_col).asc()
    )
    canon = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col(id_col).alias("canonical_doc"))
    )
    return scored.join(canon, "cluster_id").select(
        id_col, "cluster_id", "canonical_doc",
        (F.col(id_col) == F.col("canonical_doc")).alias("keep"),
    )


def fingerprints(
    docs: DataFrame,
    window: int = 16,
    stride: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fingerprint) — winnowing-style min md5 over ``window``-char
    windows sampled every ``stride`` chars (rolling-hash analog,
    engine-portable).

    ZERO shuffle (round 4): the min-hash is a per-row ``array_min`` fold over
    the doc's own window positions — identical bytes to the earlier
    explode-one-row-per-stride + groupBy-min (min over strings is
    order-free), with the corpus-wide (doc, window-hash) shuffle removed.

    NULL text yields NO row (same contract as the original explode
    formulation, where a NULL window sequence generated nothing): the
    per-row fold would otherwise emit a join-inert NULL fingerprint and
    silently change downstream row counts.
    """
    pos = F.sequence(
        F.lit(1), F.greatest(F.length(text_col) - (window - 1), F.lit(1)), F.lit(stride)
    )
    fp = F.array_min(
        F.transform(pos, lambda p: F.md5(F.col(text_col).substr(p, F.lit(window))))
    )
    return docs.select(id_col, fp.alias("fingerprint")).where(
        F.col("fingerprint").isNotNull()
    )


def substring_duplicate_spans(
    docs: DataFrame,
    k: int = 16,
    mod_p: int = 4,
    max_gap: int = 64,
    min_grams: int = 2,
    max_docs_per_gram: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Substring-level exact dedup (the suffix-array-style "deduplicating
    training data" recipe re-expressed as bucketed fingerprints): finds
    byte-identical substrings REPEATED ACROSS documents and returns their
    character spans — the duplication token-level Jaccard can't see (two
    documents sharing one long boilerplate sentence amid otherwise different
    text score near-zero Jaccard but are exactly what corpus curation must
    catch).

    Returns ``(spans, dropped_grams)``:

    - ``spans``: (doc_a, doc_b, start_a, start_b, span_len, n_grams) — one
      row per maximal run of shared ``k``-grams on a (doc_a, doc_b) pair's
      alignment diagonal; ``start_*`` are 1-based char offsets, ``span_len``
      covers first-gram start to last-gram end.
    - ``dropped_grams``: (h, n_docs) — grams shared by more than
      ``max_docs_per_gram`` documents (corpus-wide boilerplate: headers,
      license blurbs), EXCLUDED from pairing and returned instead of
      silently exploding the self-join (``cap_groups``, as in the token and
      n-gram families).

    Algorithm (every step engine-portable, so the DuckDB oracle reconstructs
    it bit-for-bit):

    1. hash every k-gram: h(i) = md5(substr(text, i, k)) — a per-row
       ``transform`` over the doc's own positions, no shuffle;
    2. content-defined selection: keep position i iff the first 16 bits of
       h(i) are ≡ 0 (mod ``mod_p``) — position-INDEPENDENT, so two docs
       sharing a substring select the same grams inside it regardless of
       where it sits in each doc (expected density 1/mod_p; a shared
       substring of L chars yields ~(L-k+1)/mod_p selected matches);
    3. one selected position per (doc, gram): MIN(pos) — bounds periodic
       pathologies ("ababab…" has ONE distinct gram, so one row) at the
       documented cost of merging a doc's internal repeats onto the first
       occurrence;
    4. document-frequency cap (step 3 made the count per gram = docs), keep
       2 <= n_docs <= max_docs_per_gram;
    5. equi-join on the gram hash -> (doc_a, doc_b, pos_a, pos_b) with
       doc_a < doc_b;
    6. span merge: matches from one shared substring share an alignment
       diagonal (pos_b - pos_a constant); per (pair, diagonal), order by
       pos_a and split islands where the selection gap exceeds ``max_gap``
       (selection gaps are ~geometric with mean mod_p); keep islands with
       >= ``min_grams`` corroborating grams;
    7. EXACT CONFIRM (``verify=True``, default): only k bytes around each
       selected gram are proven equal by step 5 — the up-to-``max_gap``
       bytes BETWEEN two grams on a diagonal are not. Templated text (two
       static fragments separated by equal-width variable fields) forms
       islands whose interiors differ; the confirm joins both texts back
       and keeps only spans whose full substrings are byte-identical —
       the same candidates-then-confirm discipline as the MinHash and
       embedding families. A mixed island (a true shared prefix running
       into a template tail) is dropped WHOLE, not split — the documented
       cost of confirming at island granularity.

    Scale shape: the explode emits only ~len/mod_p selected rows per doc;
    every shuffle is keyed (gram hash, then pair+diagonal windows bounded by
    per-pair match counts); the only self-join is df-capped on both sides;
    the confirm joins span rows (not pairs of positions) back to the corpus
    by id. No all-pairs anywhere.
    """
    from pyspark.sql.window import Window

    s = F.coalesce(F.col(text_col), F.lit(""))
    npos = F.length(s) - (k - 1)
    pos_arr = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        pos_arr, lambda p: F.struct(p.alias("pos"), F.md5(s.substr(p, F.lit(k))).alias("h"))
    )
    sel = F.filter(
        grams,
        lambda g: F.conv(F.substring(g["h"], 1, 4), 16, 10).cast("long") % mod_p == 0,
    )
    ex = docs.select(F.col(id_col).alias("doc"), F.explode(sel).alias("g")).select(
        "doc", "g.pos", "g.h"
    )
    # one row per (doc, gram): min position (map-side-combinable)
    g1 = ex.groupBy("doc", "h").agg(F.min("pos").alias("pos"))
    kept, dropped = cap_groups(g1, ["h"], max_docs_per_gram, n="n_docs")
    # a gram in one doc pairs nothing
    cand = kept.where(F.col("n_docs") >= 2).select("h", "doc", "pos")
    pairs = self_pairs(cand, ["h"], "doc").select(
        "doc_a", "doc_b", "pos_a", "pos_b", (F.col("pos_b") - F.col("pos_a")).alias("diag")
    )
    wdiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    flagged = pairs.withColumn(
        "new_island",
        F.when(F.col("pos_a") - F.lag("pos_a").over(wdiag) > max_gap, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            wdiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = (
        flagged.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.max("pos_a") + k).alias("_end_a"),
            F.count("*").alias("n_grams"),
        )
        .where(F.col("n_grams") >= min_grams)
        .select(
            "doc_a", "doc_b", "start_a",
            (F.col("start_a") + F.col("diag")).alias("start_b"),
            (F.col("_end_a") - F.col("start_a")).alias("span_len"),
            "n_grams",
        )
    )
    if verify:
        ta = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
        tb = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
        spans = (
            spans.join(ta, "doc_a")
            .join(tb, "doc_b")
            .where(
                F.col("_ta").substr(F.col("start_a"), F.col("span_len"))
                == F.col("_tb").substr(F.col("start_b"), F.col("span_len"))
            )
            .select("doc_a", "doc_b", "start_a", "start_b", "span_len", "n_grams")
        )
    return spans, dropped


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, text, removed_chars, n_spans_removed): the REMOVAL half of
    substring-level dedup — splice every duplicated span out of the
    LATER-id document (``substring_duplicate_spans`` emits doc_a < doc_b, so
    cutting the doc_b occurrence keeps exactly one copy of each repeated
    substring corpus-wide, the "deduplicating training data" action).

    Steps, all engine-portable (the DuckDB oracle reproduces the splice
    byte-for-byte):

    1. cut intervals = (doc_b, [start_b, start_b + span_len)) — half-open;
    2. merge overlapping/contiguous intervals per doc (running-max island
       merge: a cut starts a new island iff its start exceeds the max end of
       every earlier cut);
    3. splice: one per-row ``aggregate`` fold over the doc's sorted disjoint
       intervals stitches the kept segments (prefix, inter-span gaps,
       suffix) back together.

    Documents never named as a cut target pass through unchanged
    (removed_chars = 0). Invariant: length(text_in) = length(text_out) +
    removed_chars for every row (pinned in pytest).

    Scale shape: interval merge is doc-keyed windows bounded by each doc's
    span count; the splice is a zero-shuffle per-row fold; the single join
    back to the corpus is on the id. Nothing is quadratic in the corpus.
    """
    from pyspark.sql.window import Window

    # DISTINCT is load-bearing, not just a row-count optimization: duplicate
    # (start, end) cuts (the same doc_b span found via several doc_a
    # partners) would make the window sort order non-total, and a cumulative
    # island sum computed over one tie order then grouped under another can
    # split an island's opening duplicate into the PREVIOUS island —
    # overlapping "merged" intervals and an engine-dependent splice.
    cuts = spans.select(
        F.col("doc_b").alias(id_col),
        F.col("start_b").alias("start"),
        (F.col("start_b") + F.col("span_len")).alias("end"),
    ).distinct()
    w = Window.partitionBy(id_col).orderBy("start", "end")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = cuts.withColumn(
        "ni", F.when(F.col("start") > F.coalesce(prev_max_end, F.lit(0)), 1).otherwise(0)
    ).withColumn(
        "island",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = isl.groupBy(id_col, "island").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )
    per_doc = merged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("start", "end"))).alias("ivs"),
        F.sum(F.col("end") - F.col("start")).alias("removed_chars"),
        F.count("*").alias("n_spans_removed"),
    )
    t = F.col(text_col)
    spliced = F.aggregate(
        F.col("ivs"),
        F.struct(F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")),
        lambda a, iv: F.struct(
            iv["end"].cast("long").alias("pos"),
            F.concat(a["acc"], t.substr(a["pos"], iv["start"] - a["pos"])).alias("acc"),
        ),
        lambda a: F.concat(a["acc"], t.substr(a["pos"], F.length(t) - a["pos"] + 1)),
    )
    return (
        docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(F.col("ivs").isNotNull(), spliced).otherwise(t).alias(text_col),
            F.coalesce("removed_chars", F.lit(0)).alias("removed_chars"),
            F.coalesce("n_spans_removed", F.lit(0)).alias("n_spans_removed"),
        )
    )
