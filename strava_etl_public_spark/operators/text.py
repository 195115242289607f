"""Text analysis operators (north-star extension): language-ID,
quality and encoding features, TF-IDF, BM25 over a postings index,
within-document repetition, cross-document duplicated-span removal.

Deterministic and engine-portable, so every one is DuckDB-oracle
checkable: the per-document features are codegen'd, shuffle-free
projections that run at scan speed — the map stage of a
training-data curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingles, tokens

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: Chosen for determinism, not linguistic accuracy.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "y", "que"),
    "de": ("der", "die", "das", "und", "ist"),
}


def _count_in(tokens_col: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens_col, lambda t: t.isin(*words)))


def lang_scores(text_col: Column | str, toks: Column | None = None) -> dict[str, Column]:
    if toks is None:
        toks = tokens(text_col)
    return {lang: _count_in(toks, words) for lang, words in LANG_PROFILES.items()}


def lang_id(
    text_col: Column | str, default: str = "und", toks: Column | None = None
) -> Column:
    """argmax over language stopword hit-counts, fixed evaluation order
    for ties (en > fr > es > de), 'und' when nothing matches.

    Pass a materialized token-array column via ``toks`` on hot paths —
    inlined ``tokens()`` re-runs the regex for every score reference
    (~13× per row here; see dedup.doc_shingles)."""
    scores = lang_scores(text_col, toks)
    langs = list(LANG_PROFILES)
    best = F.greatest(*[scores[l] for l in langs])
    out = F.lit(default)
    # reversed: earlier langs win ties because they're applied last.
    for lang in reversed(langs):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_score_col(text_col: Column | str, toks: Column) -> Column:
    """The composite quality score as a pure column expression (rounded
    to 6 dp, single-division arithmetic — bit-equal across engines).
    ``toks`` must be a MATERIALIZED token-array column (see lang_id) so
    the tokenize regex runs once, not per reference. Split out of
    quality_features (r13) so map-only pipelines can fuse the score
    into an existing projection instead of paying a join."""
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    stop_hits = _count_in(toks, LANG_PROFILES["en"])
    alpha_chars = F.length(F.regexp_replace(F.col(text_col) if isinstance(text_col, str) else text_col, "[^A-Za-z]", ""))
    score = (
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(
            F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
            + (stop_hits.cast("double") / n_tok.cast("double")) * 0.3
            + (alpha_chars.cast("double") / n_chars.cast("double")) * 0.3
        )
    )
    return F.round(score, 6)


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length/stopword/punctuation quality features + composite score —
    single-division arithmetic only (bit-equal across engines)."""
    # materialize the token array once — inlining tokens() into every
    # consumer re-runs the regex per use (see dedup.doc_shingles)
    base = df.select(
        F.col(id_col),
        F.col(text_col),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    stop_hits = _count_in(toks, LANG_PROFILES["en"])
    return base.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars_obs"),
        stop_hits.cast("long").alias("stopword_hits"),
        quality_score_col(text_col, toks).alias("quality_score"),
    )


def tf_idf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    tc: DataFrame | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per document (SURVEY §7 M6).

    tf = term count / doc length; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn-style). Scores rounded to 6dp before ranking so ordering is
    engine-portable; ties break on the term string.

    Scale shape: two hash aggs (by (doc,term), by term) + one window
    top-k by doc; the corpus size N is a 1-row broadcast, never a
    driver-side collect.

    ``tc`` optionally supplies precomputed (and typically persisted)
    per-(doc, term) counts — the ``build_postings`` shape, the same
    share-the-expensive-input contract as minhash_lsh_dedup's ``sh``:
    the term-frequency table feeds two consumers (the scoring join and
    the per-term df aggregation) and Spark replans the tokenize subtree
    per consumer unless the caller materializes it once.
    """
    from pyspark.sql import Window

    # r13 plan-shape fix: the old build derived doc_len and df via two
    # groupBy branches off ``tc`` and equi-joined them back — Spark does
    # not dedupe branch subtrees, so the corpus was scanned +
    # regex-tokenized + exploded THREE times (verified in the captured
    # plan: three Generate subtrees). Now:
    #   - doc_len is a window sum over tc partitioned by doc — served
    #     by the SAME hash partitioning the per-doc top-k window needs,
    #     so it adds no exchange and kills one tokenize branch outright;
    #   - df stays an aggregation (map-side partial, never a full
    #     tc-by-term shuffle — a hot stopword term would make a window
    #     by term both skew- and memory-bound at corpus scale, guide
    #     §2.5); its branch re-derives tc unless the caller passes a
    #     persisted ``tc`` (ReuseExchange cannot be relied on here: the
    #     optimizer prunes the unused count out of the df branch, which
    #     breaks canonical subtree equality — observed on 4.1).
    # Values are unchanged: same counts, same expression tree, same
    # 6 dp rounding, same tie-break.
    if tc is None:
        tok_long = df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
            F.col(id_col), F.explode("_toks").alias("term")
        )
        tc = tok_long.groupBy(id_col, "term").agg(
            F.count(F.lit(1)).alias("tf_n")
        )
    dft = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df_n"))
    ndocs = df.select(F.col(id_col)).distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    w_dl = Window.partitionBy(id_col)
    scored = (
        tc.join(dft, "term")  # planner-sized: broadcast when the vocab
        # fits (it does at every bench sf), sort-merge beyond the cap
        .crossJoin(F.broadcast(ndocs))
        .withColumn("doc_len", F.sum("tf_n").over(w_dl))
        .withColumn(
            "tf_idf",
            F.round(
                (F.col("tf_n").cast("double") / F.col("doc_len").cast("double"))
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df_n") + 1).cast("double"))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tf_idf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(F.col(id_col), "term", "tf_idf", "rk")
    )


def build_postings(df: DataFrame, id_col: str, text_col: str):
    """The BM25 index state: postings ``(id, term, tf_n)`` + doc
    lengths ``(id, doc_len)`` from one tokenize pass (two hash aggs,
    map-side combined). Kept apart from scoring so the index can be
    PERSISTED and maintained incrementally: doc-id-disjoint batches
    compose by pure UNION (each doc's postings and length depend only on its own text), so
    index(C ∪ B) = index(C) ∪ index(B) exactly — tokenization cost is
    batch-proportional, the corpus postings are never re-derived."""
    tok_long = df.select(F.col(id_col), tokens(text_col).alias("_t")).select(
        F.col(id_col), F.explode("_t").alias("term")
    )
    tc = tok_long.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf_n")
    )
    dl = tc.groupBy(id_col).agg(F.sum("tf_n").alias("doc_len"))
    return tc, dl


def bm25_from_index(
    spark,
    tc: DataFrame,
    dl: DataFrame,
    id_col: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval over a PREBUILT index (``build_postings``).
    Corpus stats (N, Σdl) are derived from the index itself, so a stale
    sidecar can never disagree with the postings it scores.

    ``queries`` is a bounded list of ``(query_id, query_text)`` —
    model-state-sized, so its distinct terms broadcast and CUT the
    postings to query terms BEFORE any per-term stats join (df counts
    are computed on the pruned postings, not the full vocabulary).

    Scoring (Robertson/Sparck Jones, the Lucene-default shape):
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``tf_part = tf·(k1+1) / (tf + k1·(1 - b + b·dl·N/Σdl))`` — note
    ``dl/avgdl`` is computed as ``dl·N/Σdl`` so every input is an
    exact BIGINT and the double math is one fixed expression tree.
    Each ln rounds to 6dp (the tf_idf precedent for engine-divergent
    libm); per-term contributions round to 6dp and sum as
    DECIMAL(38,6) (order-free), so scores are bit-equal across engines
    and partitionings. Top-k per query by (score desc, id) row_number.

    ``tc`` feeds two branches (query-term prune → df stats + hits) and
    ``dl`` two more (corpus stats, doc-length join); Spark does not
    dedupe branch subtrees, so persist both when they are not already
    materialized."""
    from pyspark.sql import Window

    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_len").cast("long").alias("sum_dl"),
    )
    qdf = spark.createDataFrame(queries, ["query_id", "q_text"])
    qterms = qdf.select(
        F.col("query_id").cast("long"), F.explode(tokens("q_text")).alias("term")
    ).distinct()
    # prune postings to the DISTINCT query-term set first (df stats
    # over the pruned postings — one row per (doc, term)); the
    # per-query fan-out joins AFTER, so a term shared by two queries
    # does not double its document frequency (code-review finding)
    qt = qterms.select("term").distinct()
    postings_q = tc.join(F.broadcast(qt), "term")
    dft = postings_q.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_n")
    )
    hits = postings_q.join(F.broadcast(qterms), "term")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df_n") + F.lit(0.5))
            / (F.col("df_n").cast("double") + F.lit(0.5))
        ),
        6,
    )
    norm_len = (
        F.col("doc_len").cast("double")
        * F.col("n_docs").cast("double")
        / F.col("sum_dl").cast("double")
    )
    tf_part = (F.col("tf_n").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf_n").cast("double")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * norm_len)
    )
    scored = (
        hits.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("_contrib", F.round(idf * tf_part, 6))
        .groupBy("query_id", id_col)
        .agg(
            F.round(
                F.sum(F.col("_contrib").cast("decimal(38,6)")).cast("double"), 6
            ).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col), "bm25", "n_terms_matched", "rk")
    )


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family used
    to filter low-quality/templated training text — Rae et al. 2021,
    "Scaling Language Models", table A1):

    - ``top_token_frac``  — share of all tokens held by the most
      frequent token
    - ``top_2gram_frac``  — share of all 2-gram occurrences held by the
      most frequent 2-gram
    - ``dup_5gram_frac``  — fraction of 5-gram occurrences that are
      repeats of an earlier 5-gram (1 - distinct/total)

    (the fixture's documents are single-line word streams, so the
    signals are token-n-gram based rather than line-based)

    Scale shape: one explode of all three gram sizes tagged by ``n``
    (generator-pipelined, no per-doc arrays collected), then three
    strictly-shrinking hash aggregations — (doc,n,gram) counts →
    (doc,n) stats → per-doc pivot. Map-side partial aggs collapse
    repeated grams before the first shuffle, so highly repetitive
    documents (the ones being flagged) shuffle *less*, not more; the
    later shuffles carry ≤3 rows/doc. No window, no sort, no pairwise
    work; per-doc cost is linear in document length (an O(n²) per-row
    higher-order-function count would not be). Fractions are single
    exact int/int divisions rounded to 6dp — engine-portable.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("_toks"))

    def _tag(arr: Column, n: int) -> Column:
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
        )

    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.concat(
                _tag(F.col("_toks"), 1),
                _tag(shingles(F.col("_toks"), 2), 2),
                _tag(shingles(F.col("_toks"), 5), 5),
            )
        ).alias("_e"),
    ).select(F.col(id_col), F.col("_e.n").alias("_n"), F.col("_e.g").alias("_g"))
    # gram identity stays the raw string: hashing to md5-prefix longs
    # (the doc_shingles trick) was measured 14% SLOWER end-to-end at
    # 200k docs — the ~2x shuffle-byte saving on short grams does not
    # pay for the digest CPU, unlike the 3-token shingle tables where
    # the string is longer and reused across several downstream joins.
    counts = grams.groupBy(id_col, "_n", "_g").agg(
        F.count(F.lit(1)).alias("_c")
    )
    per_n = counts.groupBy(id_col, "_n").agg(
        F.max("_c").alias("_top"),
        F.sum("_c").alias("_total"),
        F.count(F.lit(1)).alias("_uniq"),
    )

    def _pick(n: int, expr: Column) -> Column:
        return F.max(F.when(F.col("_n") == n, expr))

    frac = lambda num, den: F.round(num.cast("double") / den.cast("double"), 6)
    feats = per_n.groupBy(id_col).agg(
        _pick(1, F.col("_total")).cast("long").alias("n_tokens"),
        _pick(1, frac(F.col("_top"), F.col("_total"))).alias("top_token_frac"),
        _pick(2, frac(F.col("_top"), F.col("_total"))).alias("top_2gram_frac"),
        _pick(5, frac(F.col("_total") - F.col("_uniq"), F.col("_total"))).alias(
            "dup_5gram_frac"
        ),
    )
    # docs too short for a gram size (or with zero tokens) must still
    # appear, with 0-valued signals — left join back to the corpus
    return (
        df.select(F.col(id_col))
        .join(feats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
            F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
            F.coalesce("dup_5gram_frac", F.lit(0.0)).alias("dup_5gram_frac"),
        )
    )


#: Control characters that signal a broken decode (C0 minus \t\n\r).
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
#: ASCII printable range (space..tilde).
_PRINTABLE_RE = "[\\x20-\\x7e]"


def encoding_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Encoding-sanity features: U+FFFD replacement characters (the
    fingerprint of a wrong-charset decode), stray C0 control bytes,
    and the ASCII-printable ratio. The standard mojibake pre-filter
    in a web-scraped corpus pipeline — a doc with replacement chars
    was decoded with the wrong charset and poisons downstream token
    statistics. Pure codegen'd regexp counts (RE2-safe classes,
    identical in DuckDB), shuffle-free, scan speed.

    Emits per doc: n_chars, n_replacement, n_ctrl, printable ratio
    (6dp — exact: integer counts, one IEEE division), and the keep
    verdict (no replacement chars, no control bytes)."""
    c = F.col(text_col)
    n_chars = F.length(c).cast("long")
    n_repl = F.regexp_count(c, F.lit("\\x{FFFD}")).cast("long")
    n_ctrl = F.regexp_count(c, F.lit(_CTRL_RE)).cast("long")
    n_print = F.regexp_count(c, F.lit(_PRINTABLE_RE)).cast("long")
    ratio = F.round(
        n_print.cast("double")
        / F.greatest(n_chars, F.lit(1)).cast("double"),
        6,
    ) + F.lit(0.0)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_ctrl"),
        ratio.alias("printable_ratio"),
        ((n_repl == 0) & (n_ctrl == 0)).alias("clean"),
    )


def dup_span_remove(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL (the rewrite step of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): drop every token covered by ANY n-token span whose
    shingle occurs in more than one document, and reassemble the
    survivors. Every input doc appears in the output (a rewrite, not a filter) — docs with no
    duplicated spans pass through byte-identical modulo tokenization.

    Scale shape: one positional shingle explode, one distinct + hash
    agg for span document-frequency, one equi-join against the >1-df
    tail, one per-doc collect of DUP START POSITIONS ONLY (bounded by
    the doc's own span count — per-doc state, never corpus state),
    then a pure higher-order-function rewrite (sequence/flatten/
    filter — JVM codegen, no UDF). Same 60-bit md5 shingle identity
    as the dedup family → the rewritten text oracle-matches exactly.
    """
    from pyspark import StorageLevel

    from .sketch import _hash60
    from ..io import fan_out

    # fused pipelines pass a pre-persisted (id, _toks) table so the
    # corpus is tokenized ONCE across consumers (the decontaminate
    # corpus_shingles convention); its cache lifecycle stays with the
    # caller then
    own_toks = toks is None
    if own_toks:
        toks = fan_out(df).select(
            F.col(id_col),
            F.coalesce(
                tokens(F.col(text_col)), F.array().cast("array<string>")
            ).alias("_toks"),
        )
        # _toks feeds the span table AND the final rewrite; the span
        # table feeds the df-agg AND the dup-start join (minhash cache
        # lifecycle)
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    sp = (
        toks.select(
            F.col(id_col),
            F.posexplode(shingles(F.col("_toks"), n)).alias("_p0", "_s"),
        )
        .select(
            id_col,
            (F.col("_p0") + 1).alias("_p"),  # 1-based span start
            _hash60(F.col("_s")).alias("_sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        dup_set = (
            sp.select(id_col, "_sh")
            .distinct()
            .groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_ndocs"))
            .filter(F.col("_ndocs") > 1)
            .select("_sh")
        )
        starts = (
            sp.join(dup_set, "_sh")
            .groupBy(id_col)
            .agg(F.collect_list("_p").alias("_starts"))
        )
        j = toks.join(starts, id_col, "left").withColumn(
            "_cov",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.coalesce("_starts", F.array().cast("array<int>")),
                        lambda s: F.sequence(s, s + (n - 1)),
                    )
                )
            ),
        )
        kept = F.filter(
            F.col("_toks"),
            lambda t, i: ~F.array_contains(F.col("_cov"), i + F.lit(1)),
        )
        out = j.select(
            F.col(id_col),
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.when(
                F.size("_toks") > 0,
                F.round(
                    (F.size("_toks") - F.size(kept)).cast("double")
                    / F.size("_toks").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("removed_frac"),
            F.concat_ws(" ", kept).alias("clean_text"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        sp.unpersist()
        if own_toks:
            toks.unpersist()
