"""Corpus-curation operators (training-data pipeline family).

The filter/select half of the LLM-data story, complementing the dedup family
(operators/dedup.py finds what is redundant; these decide what to KEEP):

- ``pii_stats``: regex PII detection + redaction (emails, SSNs, phone
  numbers, IPv4) as native ``regexp_extract_all`` / ``regexp_replace``
  projections — zero shuffle, throughput = the parquet scan. Patterns are
  RE2-safe (no lookaround/backreferences) so any engine reproduces them.
- ``contamination_scores``: benchmark-decontamination screen — the fraction
  of each document's distinct word n-grams that appear anywhere in a
  benchmark table (the standard 8-13-gram overlap test run before training).
  The benchmark gram set is tiny relative to the corpus (eval suites are
  KB-MB against TB-PB of training data), so AQE broadcasts the probe side
  (no forced hint — an oversized benchmark degrades to SMJ, never a driver
  OOM); the corpus never shuffles anything wider than (doc_id, gram-hit).
- ``stratified_sample``: deterministic hash-based Bernoulli sampling with
  per-stratum rates — ``md5(salt|id)`` as the uniform variate, so the sample
  is reproducible run-to-run, engine-portable (the DuckDB oracle draws the
  identical sample), and a pure narrow projection+filter at any scale (no
  shuffle, no RNG state, no driver coordination).
- ``pack_documents``: GPT-style sequence-packing manifest — documents
  concatenated into md5-sharded token streams and chunked every N
  tokens; one window cumsum per shard, never a global sort.

No reference analog (graft-brief requirement beyond fmateoc/entity-matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# RE2- and Java-regex-compatible PII patterns (ASCII \b word boundaries,
# no lookaround): applied with regexp_extract_all for counts and
# regexp_replace (global) for redaction. Order matters for redaction: the
# email pattern consumes dots/digits that the IP pattern could otherwise
# half-match, so emails redact first.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_email, n_ssn, n_phone, n_ipv4, n_pii, redacted).

    Counts are each computed over the ORIGINAL text (independent patterns);
    the redacted column applies the replacements sequentially in
    ``PII_PATTERNS`` order, substituting ``[EMAIL]``/``[SSN]``/... markers.
    All native regex — whole-stage codegen, no shuffle.
    """
    counts = {
        name: F.size(F.regexp_extract_all(text_col, F.lit(pat), 0))
        for name, pat in PII_PATTERNS
    }
    red = F.col(text_col)
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"[{name.upper()}]")
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        id_col,
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        total.alias("n_pii"),
        red.alias("redacted"),
    )


def _word_ngrams(text_col: str, n: int) -> F.Column:
    """Distinct full-width word n-grams of ``text_col`` (empty array when the
    document has fewer than n words). Unlike the MinHash shingles of
    operators/dedup.py, a short document yields no gram, not one."""
    return F.array_distinct(_word_ngrams_all(text_col, n))


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-overlap decontamination screen.

    For each document: ``n_grams`` distinct word n-grams, ``n_matched`` of
    them appearing in ANY benchmark document, ``contamination`` = matched /
    total (0.0 for documents shorter than n words). A training pipeline
    drops or flags documents above a contamination threshold before they
    leak eval answers into the model.

    Scale shape: the benchmark gram set (eval suites — small by definition)
    is deduplicated and left to AQE, which broadcasts it at any realistic
    size, so the corpus side is a scan + broadcast left hash lookup + one
    groupBy on doc_id; the corpus never self-joins. No broadcast hint is
    FORCED: a pathological benchmark bigger than the broadcast threshold
    degrades to a sort-merge join instead of OOMing the driver — semantics
    unchanged either way.
    """
    doc_grams = docs.select(
        id_col, F.explode_outer(_word_ngrams(text_col, n)).alias("gram")
    )
    bench_grams = (
        benchmark.select(F.explode(_word_ngrams(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = doc_grams.join(bench_grams, "gram", "left")
    # count() of a nullable column counts non-nulls: explode_outer emits one
    # null-gram row for sub-n-word docs (n_grams 0), and "hit" is non-null
    # only on benchmark matches — so both counts need no conditional sum
    agg = joined.groupBy(id_col).agg(
        F.count("gram").alias("n_grams"),
        F.count("hit").alias("n_matched"),
    )
    return agg.select(
        id_col,
        "n_grams",
        "n_matched",
        F.round(
            F.when(F.col("n_grams") > 0, F.col("n_matched") / F.col("n_grams"))
            .otherwise(0.0),
            9,
        ).alias("contamination"),
    )


def _word_ngrams_all(text_col: str, n: int) -> F.Column:
    """ALL word n-grams (duplicates kept, empty array when fewer than n
    words) — the multiset ``_word_ngrams`` deduplicates."""
    arr = F.filter(F.split(text_col, " "), lambda t: t != "")
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    docs: DataFrame,
    top_n: int = 2,
    dup_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style within-document repetition signals:

    - ``top_ngram_frac``: characters covered by the single most frequent
      ``top_n``-word-gram (count x gram length) over total characters — the
      "top n-gram character fraction" filter;
    - ``dup_ngram_frac``: fraction of ``dup_n``-gram occurrences that are
      repeats of an earlier occurrence (1 - distinct/total) — the
      "duplicate n-gram fraction" filter;
    both 0.0 for documents too short to form a gram.

    Scale shape: ZERO shuffle. The top-gram count is a per-row run-length
    fold over the SORTED gram array (``F.aggregate``) — O(g log g) per
    document, all whole-stage codegen, no explode/groupBy — so throughput is
    the parquet scan even at 100 TB. Ties on count break to the
    lexicographically-largest gram (the sorted fold's last maximal run),
    which the SQL oracle reproduces with ORDER BY (count, gram) DESC — the
    two engines compute the same quantity by entirely different plans.
    """
    cols = repetition_columns(text_col, top_n, dup_n)
    return docs.select(id_col, *[c.alias(n) for n, c in cols.items()])


def repetition_columns(text_col: str = "text", top_n: int = 2, dup_n: int = 5) -> dict:
    """The repetition-signal expressions as reusable Columns (same
    one-scan-composition contract as text.quality_columns)."""
    top_grams = F.sort_array(_word_ngrams_all(text_col, top_n))
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        F.lit(None).cast("string").alias("bestg"),
    )

    def step(acc, g):
        run = F.when(acc["prev"].eqNullSafe(g), acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        better = run >= acc["best"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, g).otherwise(acc["bestg"]).alias("bestg"),
        )

    top = F.aggregate(top_grams, init, step)
    dup_grams = _word_ngrams_all(text_col, dup_n)
    n_dup_total = F.size(dup_grams)
    n_dup_distinct = F.size(F.array_distinct(dup_grams))
    n_chars = F.length(text_col)
    top_frac = F.when(
        (n_chars > 0) & top["best"].isNotNull() & (top["best"] > 0),
        top["best"] * F.length(top["bestg"]) / n_chars,
    ).otherwise(0.0)
    dup_frac = F.when(
        n_dup_total > 0, 1.0 - n_dup_distinct / n_dup_total
    ).otherwise(0.0)
    return {
        "top_ngram_count": F.coalesce(top["best"], zero),
        "top_ngram": top["bestg"],
        "top_ngram_frac": F.round(top_frac, 9),
        "n_dup_grams": n_dup_total,
        "dup_ngram_frac": F.round(dup_frac, 9),
    }


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "s1",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample (corpus mixing weights).

    A document is kept iff ``u < rate[stratum]`` where ``u`` is the uniform
    variate ``int(md5(salt|id)[:8], 16) / 2^32`` — a pure function of the
    row, so the sample is identical run-to-run, resumable mid-corpus, and
    reproducible by any engine that can md5 (the DuckDB oracle draws the
    same rows). Changing ``salt`` redraws independently. No shuffle: a
    narrow projection + filter, the correct shape for sampling 100 TB.

    Output: sampled rows ``(doc_id, stratum, u)``. The keep decision
    compares the UNROUNDED variate (the same rule ``curation_report`` applies
    via ``sample_columns``, so the two call sites can never disagree on a
    boundary value); only the DISPLAYED ``u`` column is rounded to 9dp.
    """
    u, rate = sample_columns(rates, default_rate, strat_col, id_col, salt)
    return (
        docs.select(id_col, F.col(strat_col).alias("stratum"), u.alias("u_raw"),
                    rate.alias("rate"))
        .where(F.col("u_raw") < F.col("rate"))
        .select(id_col, "stratum", F.round("u_raw", 9).alias("u"))
    )


def sample_columns(
    rates: dict[str, float],
    default_rate: float = 0.0,
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "s1",
) -> tuple:
    """``(u, rate)`` Column pair behind ``stratified_sample`` — reusable so
    composites evaluate the sampling decision in their own scan."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    rate = F.lit(float(default_rate))
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strat_col) == stratum, float(r)).otherwise(rate)
    return u, rate


def curation_report(
    docs: DataFrame,
    benchmark: DataFrame,
    near_dup_pairs: DataFrame,
    sample_rates: dict[str, float],
    min_quality: float = 0.25,
    max_top_ngram_frac: float = 0.15,
    max_contamination: float = 0.05,
    default_rate: float = 0.0,
    top_n: int = 2,
    dup_n: int = 5,
    contam_n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    strat_col: str = "source",
    salt: str = "s1",
) -> DataFrame:
    """The end-to-end corpus-curation FUNNEL: every per-document signal the
    family computes, joined into one keep/drop decision with reasons —
    what a training-data pipeline actually ships.

    Per document: quality score (text.quality_columns), top-n-gram
    repetition fraction (repetition_columns), benchmark contamination
    (contamination_scores), near-duplicate membership (dedup.canonical_docs
    over ``near_dup_pairs`` — a doc is dropped when its cluster keeps a
    better copy), and the deterministic stratified-sampling draw
    (sample_columns). ``drop_reasons`` is the comma-joined sorted list of
    fired filters; ``kept`` = no reasons AND sampled.

    Scale shape: ONE corpus scan computes every projection-only signal
    (quality + repetition + sampling — zero shuffle); contamination adds a
    groupBy(doc_id) against the broadcast benchmark gram set; near-dup adds
    the CC loop over id-pair edges. The final assembly is two LEFT joins on
    ``doc_id`` — both sides already keyed, no data-sized broadcasts.
    """
    from .dedup import canonical_docs
    from .text import quality_columns

    q = quality_columns(text_col)["quality"]
    rep = repetition_columns(text_col, top_n, dup_n)["top_ngram_frac"]
    u, rate = sample_columns(sample_rates, default_rate, strat_col, id_col, salt)
    base = docs.select(
        id_col,
        q.alias("quality"),
        rep.alias("top_ngram_frac"),
        (u < rate).alias("sampled"),
    )
    cont = contamination_scores(docs, benchmark, n=contam_n,
                                text_col=text_col, id_col=id_col
                                ).select(id_col, "contamination")
    canon = canonical_docs(docs, near_dup_pairs, text_col=text_col, id_col=id_col
                           ).select(id_col, "keep")
    df = base.join(cont, id_col, "left").join(canon, id_col, "left")
    near_dup = ~F.coalesce(F.col("keep"), F.lit(True))
    reasons = F.array_compact(
        F.array(
            F.when(F.col("quality") < min_quality, "low_quality"),
            F.when(F.col("top_ngram_frac") > max_top_ngram_frac, "repetitive"),
            F.when(F.coalesce(F.col("contamination"), F.lit(0.0)) > max_contamination,
                   "contaminated"),
            F.when(near_dup, "near_duplicate"),
        )
    )
    return df.select(
        id_col,
        "quality",
        "top_ngram_frac",
        F.coalesce(F.col("contamination"), F.lit(0.0)).alias("contamination"),
        near_dup.alias("near_dup"),
        "sampled",
        F.concat_ws(",", F.sort_array(reasons)).alias("drop_reasons"),
        ((F.size(reasons) == 0) & F.col("sampled")).alias("kept"),
    )


def pack_documents(
    docs: DataFrame,
    chunk_tokens: int = 2048,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
) -> DataFrame:
    """GPT-style sequence-packing manifest: documents are concatenated into
    per-shard token streams (deterministic hash shard, md5-ordered within a
    shard) and chunked every ``chunk_tokens`` — the standard concat-and-chunk
    packing used to build pretraining batches (documents MAY straddle chunk
    boundaries; the manifest records exactly where each doc lands).

    Output per doc: (doc_id, shard, n_tokens, start_tok, end_tok,
    first_chunk, last_chunk) with end_tok exclusive, chunk = tok // chunk_
    tokens. Zero-token docs occupy no stream space (start == end,
    first_chunk == last_chunk = the chunk they sit at).

    Scale shape: one window cumsum per shard — the shard count bounds every
    sort partition (corpus/n_shards docs each), so no global ordering is
    ever materialized; shard and order are pure md5 functions of the id, so
    the packing is replayable and engine-reproducible (the DuckDB oracle
    rebuilds the identical manifest). At 10^12 turns pick n_shards ~ the
    cluster's reduce width.

    NULL text counts as zero tokens (coalesced before tokenizing): without
    the coalesce, non-ANSI Spark's ``size(NULL)`` = -1 would run the shard
    cumsum BACKWARDS and corrupt every later doc's start/end offsets.
    """
    toks = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda t: t != ""
        )
    )
    h = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    base = docs.select(
        id_col,
        toks.alias("n_tokens"),
        F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
        ).cast("int").alias("shard"),
        h.alias("ord"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col, "shard", "n_tokens",
        (cum - F.col("n_tokens")).alias("start_tok"),
        cum.alias("end_tok"),
    ).select(
        id_col, "shard", "n_tokens", "start_tok", "end_tok",
        F.floor(F.col("start_tok") / chunk_tokens).cast("int").alias("first_chunk"),
        F.floor(
            F.greatest(F.col("end_tok") - 1, F.col("start_tok")) / chunk_tokens
        ).cast("int").alias("last_chunk"),
    )
