"""Text-analysis operators (training-data pipeline family).

Per-document columns over ``(doc_id, text)`` — all native
``pyspark.sql.functions`` expressions inside whole-stage codegen (no UDF, no
shuffle: each is a pure projection, so throughput is the parquet scan):

- ``token_stats``: whitespace token count + a BPE-ish subword-regex count
  (the pre-tokenization budget estimate for LLM training data).
- ``quality_scores``: length / stopword-ratio / punctuation-ratio heuristic
  combined into a [0,1] score (the C4/Gopher-style quality-filter family).
- ``language_id``: stopword-marker voting per language, argmax with a
  deterministic tie-break — the n-gram-heuristic family done as a native
  sort_array over (hits, lang) structs.
- ``bm25_scores``: Lucene-shaped BM25 of every document against a fixed
  query string — per-row tf/dl projections + ONE single-pass corpus
  aggregate broadcast back (the retrieval/triage primitive).
- ``bm25_scores_table``: the same formula with terms-as-data — a
  ``(query_id, term)`` table scores N probes in one corpus pass (tokens
  semi-reduce against the term vocabulary before the tf groupBy; no
  forced broadcasts on query-derived tables, AQE decides).
- ``tfidf_topk_terms``: per-document top-k keyword extraction by tf-idf —
  keyed tf/df aggregates + a per-doc window (the only non-projection ops in
  the module, all map-side-combinable).

No reference analog (graft-brief requirement beyond fmateoc/entity-matching).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.lookups import const

STOPWORDS = ("the", "a", "and", "of", "in", "to", "is", "on", "for", "with")

LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "de", "y"),
    "de": ("der", "die", "und", "das"),
}

_BPE_RE = r"([A-Za-z]{1,4}|\d+|[^\sA-Za-z\d])"


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_chars, ws_tokens, bpe_tokens)."""
    ws = F.size(F.filter(F.split(text_col, " "), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(text_col, F.lit(_BPE_RE), 1))
    return docs.select(
        id_col, F.length(text_col).alias("n_chars"),
        ws.alias("ws_tokens"), bpe.alias("bpe_tokens"),
    )


def quality_columns(text_col: str = "text", stopwords: tuple = STOPWORDS) -> dict:
    """The quality-score expressions as reusable Columns — so composite
    operators (curate.curation_report) can evaluate them in the SAME scan
    projection instead of joining a separate quality DataFrame."""
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    n_tok = F.size(toks)
    stop_arr = const(stopwords)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(text_col) - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    len_score = F.least(F.length(text_col) / 500.0, F.lit(1.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0)
    punct_ratio = F.when(F.length(text_col) > 0, n_punct / F.length(text_col)).otherwise(0.0)
    q = F.round(
        0.5 * len_score + 0.4 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.1 * (1 - F.least(punct_ratio * 10, F.lit(1.0))), 9,
    )
    return {"n_tokens": n_tok, "n_stopwords": n_stop, "n_punct": n_punct, "quality": q}


def quality_scores(
    docs: DataFrame,
    stopwords: tuple = STOPWORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_stopwords, n_punct, quality in [0,1])."""
    cols = quality_columns(text_col, stopwords)
    return docs.select(id_col, *[c.alias(n) for n, c in cols.items()])


def vocab_topk(
    docs: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(rank, token, cnt): the corpus's top-``k`` whitespace tokens by
    frequency, ties broken to the lexicographically-smallest token — the
    vocabulary-induction / corpus-profiling primitive.

    Scale shape: explode -> groupBy(token) runs with map-side partial
    aggregation (token cardinality << token occurrences), and the final
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — per-partition
    top-k merged on the driver, NO global sort shuffle. The k-row ranking
    window is a driver-sized afterthought.
    """
    toks = docs.select(
        F.explode(F.filter(F.split(text_col, " "), lambda t: t != "")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.select(F.row_number().over(w).alias("rank"), "token", "cnt")


def bm25_scores(
    docs: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 9,
) -> DataFrame:
    """(doc_id, dl, score): per-document BM25 relevance against a fixed
    query string — the retrieval/triage primitive of the text family
    (rank a corpus against a benchmark prompt, a contamination probe, a
    topicality screen).

    Lucene-shaped BM25: terms = distinct whitespace tokens of ``query``;
    idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5));
    score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape: per-term tf and the doc length are per-row projections
    (native array ops over a FIXED literal term list — no explode, no UDF);
    the only corpus-wide work is ONE aggregate computing N, Σdl, and every
    term's document frequency in a single pass (conditional sums), crossed
    back in as a broadcast one-row table. So: one scan + one scalar agg,
    zero data-sized shuffles — the right shape for scoring 100 TB against a
    handful of query terms. Scores round to ``round_dp`` so the DuckDB
    oracle (same term order, same formula) agrees despite libm ulp noise.
    """
    terms = sorted({t for t in query.split(" ") if t})
    if not terms:
        raise ValueError("bm25_scores: query has no non-empty terms")
    # NULL text = zero-length doc: without the coalesce, size(NULL) = -1
    # poisons dl and therefore avgdl for the whole corpus
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda t: t != ""
    )

    def _tf(term: str) -> F.Column:
        # single-argument lambda (a defaulted second param would select the
        # (element, index) filter variant); eager HOF invocation makes plain
        # closure capture of ``term`` safe
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = docs.select(
        id_col,
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = F.lit(1.0) - b + F.lit(b) * F.col("dl") / avgdl
    score = None
    for i in range(len(terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        term_score = idf * tf * (k1 + 1) / (tf + F.lit(k1) * norm)
        score = term_score if score is None else score + term_score
    return joined.select(id_col, "dl", F.round(score, round_dp).alias("score"))


def bm25_scores_table(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    round_dp: int = 9,
) -> DataFrame:
    """(query_id, doc_id, dl, score): BM25 of every document against EVERY
    query in a ``(query_id, term)`` table — terms-as-data, so N probes score
    in ONE pass over the corpus (the retrieval-triage shape ``bm25_scores``
    can't reach: its terms are baked into the plan as fixed columns).

    Same Lucene-shaped formula as ``bm25_scores`` (terms are a SET per
    query; df/N/avgdl come from the full corpus), and agrees with it exactly
    on a one-query table — restricted to documents with >= 1 matching term,
    the only rows this operator emits (every emitted score is > 0, every
    omitted one would be 0, so nothing is lost; emitting all (query, doc)
    pairs would be a cross join at scale).

    Scale shape: the corpus is scanned once into (doc, dl) + exploded
    tokens; tokens semi-reduce against the distinct-term vocabulary BEFORE
    the tf groupBy — under AQE (this engine's baseline config: bench,
    tests, and the job entrypoints all enable it) a small vocabulary joins
    as a runtime broadcast, so non-matching tokens never reach an exchange;
    with AQE off, or a genuinely large vocabulary, that join lawfully
    sort-merges and the token exchange carries the full corpus once. The
    downstream exchanges are keyed and matching-tokens-only either way: one
    map-side-combined (doc, term) tf groupBy, one vocabulary-sized df
    groupBy, term-keyed joins back to the query table, and the final
    (query, doc) sum. No FORCED broadcasts on the query-derived tables —
    a LARGE probe table (terms-as-data means millions of probes is a
    legitimate input) must be allowed to sort-merge rather than OOM the
    driver; only the provably one-row corpus-stats aggregate carries a
    broadcast hint.
    """
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda t: t != ""
    )
    qt = (
        queries.where(F.col(term_col).isNotNull() & (F.col(term_col) != ""))
        .select(F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term"))
        .distinct()
    )
    vocab = qt.select("term").distinct()
    tokens = docs.select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term")
    )
    # semi-reduce first: non-matching tokens never reach the tf groupBy
    tf = (
        tokens.join(vocab, "term")
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    # tf rows are one-per-(doc, term), so a plain count IS the doc frequency
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = F.lit(1.0) - b + F.lit(b) * F.col("dl") / avgdl
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * F.col("tf") * (k1 + 1) / (F.col("tf") + F.lit(k1) * norm)
    return (
        tf.join(dfreq, "term")
        .join(qt, "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", id_col, "dl", term_score.alias("ts"))
        .groupBy("query_id", id_col, "dl")
        .agg(F.round(F.sum("ts"), round_dp).alias("score"))
        .select("query_id", id_col, "dl", "score")
    )


def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 9,
) -> DataFrame:
    """(doc_id, rank, term, tf, tfidf): each document's top-``k`` terms by
    tf-idf — the keyword-extraction / document-profiling primitive
    (tfidf = tf · ln(N / df), smooth-free since df >= 1 by construction).

    Scale shape: all keyed shuffles — (doc, term) tf counts (map-side
    combined), vocab-keyed df counts, a term-keyed join of the two (the df
    side is vocabulary-sized, so no broadcast is forced; AQE decides), and
    a per-doc window bounded by each doc's distinct-term count. N arrives
    via a broadcast one-row aggregate. Ranking uses the ROUNDED tfidf
    (``round_dp``) with a term tie-break, so near-ties collapse to exact
    ties broken identically in both engines — the ordering the DuckDB
    oracle reproduces.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col, "term", "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                round_dp,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "tfidf")
    )


def language_id(
    docs: DataFrame,
    markers: dict = LANG_MARKERS,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """(doc_id, *keep_cols, pred_lang) — marker-hit argmax, 'unknown' on zero
    hits. Tie-break is deterministic: max (hits, lang) struct, so the
    lexicographically-last language wins equal hit counts."""
    toks = F.filter(F.split(F.lower(text_col), " "), lambda t: t != "")
    scores = []
    for lang, words in sorted(markers.items()):
        arr = const(words)
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.sort_array(F.array(*scores), asc=False)[0]
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("unknown"))
    return docs.select(id_col, *keep_cols, pred.alias("pred_lang"))
