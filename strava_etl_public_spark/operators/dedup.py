"""Deduplication operators for training-data pipelines (north-star
extension per BASELINE.json; SURVEY §7 M6).

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each built from JVM-side built-ins (no Python UDFs in the
hot path) and engine-portable hashing (hex md5) so DuckDB oracles can
replicate results bit-for-bit.

Scale shape (100 TB discipline):
- shingling is a generator explode (pipelined, no driver arrays)
- MinHash signatures: ONE hash-agg shuffle keyed by doc
- LSH banding: candidates come from equi-joins on band buckets — the
  only pairwise work is within buckets, never O(n²) across the corpus
- rare-token blocking bounds the n-gram Jaccard candidate set
- verification joins are semi-join shaped and AQE-skew-safe
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9_]+"


def tokens(text_col: Column | str, pattern: str = TOKEN_RE) -> Column:
    """Lowercased regex tokens (RE2-safe pattern → identical in DuckDB)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(c), F.lit(pattern), 0)


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """n-token shingles: transform over a 1-based index sequence —
    generator-composed, no UDF. Empty when the doc has < n tokens
    (guarded: Spark's sequence(1,0) would count DOWN, not empty)."""
    sh = F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens_col, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(tokens_col) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def _doc_shingles_raw(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Non-distinct core of :func:`doc_shingles`: the raw per-doc
    shingle stream, one row per shingle OCCURRENCE — a map-only
    pipeline (tokenize → explode → hash), no shuffle. Consumers whose
    aggregate is duplicate-insensitive (MinHash ``min``) can take this
    directly and skip the distinct's full shuffle of the pipeline's
    biggest intermediate."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    m = F.md5(F.col("_sh"))
    return toks.select(
        F.col(id_col), F.explode(shingles(F.col("_toks"), n)).alias("_sh")
    ).select(
        F.col(id_col),
        F.conv(F.substring(m, 1, 15), 16, 10).cast("long").alias("shingle"),
        F.conv(F.substring(m, 17, 15), 16, 10).cast("long").alias("sh2"),
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, shingle BIGINT, sh2 BIGINT) table, distinct per doc.

    Shingle identity is the first 15 hex chars of its md5 as a 60-bit
    integer (``conv(hex,16,10)`` ↔ DuckDB ``CAST('0x…' AS BIGINT)`` —
    integer-portable across engines); ``sh2`` is a second independent
    60-bit value from chars 17-31 of the same digest, consumed by the
    MinHash family. Hashing shingles down to longs before the distinct
    shuffle cuts the shuffle payload ~3× vs. 40-char strings and makes
    every downstream agg/join key fixed-width. Collisions at 2^60 are
    negligible for set-similarity estimates.

    The token array is materialized as its own projection BEFORE the
    shingle transform: inlining ``tokens()`` into the lambda makes the
    regex re-evaluate per ``element_at`` (~n× per shingle) — measured
    12× slower at sf0.1."""
    return _doc_shingles_raw(df, id_col, text_col, n).distinct()


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5-keyed group, keep the smallest id (the
    deterministic representative)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).cast("long").alias("n_copies")
    )


def minhash_signatures(sh: DataFrame, id_col: str, k: int = 8) -> DataFrame:
    """k MinHash values per doc via the Kirsch-Mitzenmacher family:
    ``mh_j = min(h1 + j·h2)`` over the two independent 60-bit md5-derived
    values from :func:`doc_shingles`.

    ONE digest per shingle row (computed upstream), k integer
    multiply-adds per row, mins over BIGINT — no per-j string hashing,
    no string agg buffers. Overflow-safe: h1 + 7·h2 < 8·2^60 = 2^63, so
    Spark and DuckDB BIGINT agree exactly. One hash-agg pass for all k."""
    aggs = [
        F.min(F.col("shingle") + F.lit(j) * F.col("sh2")).alias(f"mh{j}")
        for j in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


#: Above this occupancy a band bucket stops emitting all pairs (see
#: lsh_candidate_pairs). 1024 members → ≤ ~524k in-bucket pairs, and
#: the collected id array stays ≤ 8 KiB — safely inside one task.
DEFAULT_MAX_BUCKET = 1024


def _stack_bands(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(id, band_idx, h): the k-row MinHash signature banded into
    ``bands`` concatenated band hashes, one row per (doc, band) —
    the LSH bucket key table shared by batch candidate generation and
    the streaming near-dup filter."""
    rows = k // bands
    band_cols = [
        F.concat_ws("_", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    return sig.select(id_col, *band_cols).select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("h"))
                    for b in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band_idx", "b.h")


def band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Text → LSH band-bucket table ``(id, band_idx, h)`` in one call
    (shingles → MinHash signature → banding): the per-document bucket
    keys the streaming near-dup ingest filter maintains state over."""
    sh = doc_shingles(df, id_col, text_col, n)
    return _stack_bands(minhash_signatures(sh, id_col, k), id_col, k, bands)


def _lsh_candidates_raw(
    sig: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """Lazy core of :func:`lsh_candidate_pairs`: returns ``(cand,
    annotated)`` where ``annotated`` is the internally PERSISTED bucket
    table the caller must unpersist after its last action — letting a
    composing pipeline (minhash_lsh_dedup) place ONE materialization
    barrier instead of stacking two.

    Band the k-row signature into `bands` buckets; docs sharing any
    band bucket become candidate pairs (doc_a < doc_b).

    Pairs are generated by **bucket-collect**, not a self-join: group by
    (band, bucket), collect the member ids, and emit in-bucket
    combinations with array combinatorics. A self-join of the signature
    subplan would make Spark compute the (expensive) signature
    aggregation twice — common subtrees are not deduplicated — measured
    2× the whole pipeline's agg cost at 100k docs.

    **Hot-bucket guard (the 100 TB skew case).** A boilerplate-heavy
    corpus can put millions of docs in one band bucket; collecting that
    bucket into a single row and emitting C(n,2) pairs would OOM one
    executor on an O(n²) struct array. Buckets above ``max_bucket``
    members therefore switch from all-pairs to a **star link**: every
    member pairs with the bucket's minimum id (attached by a window
    min over the bucket) — no arrays, n−1 pairs, fully distributed.
    A bucket that hot means its members agree on an entire band
    signature (near-identical docs — exact-dup territory handled by
    :func:`dedup_exact`), so the star preserves the connected component
    the downstream clustering needs while bounding every task; only
    redundant within-cluster cross edges are skipped. Verification
    still computes exact Jaccard on every emitted pair."""
    stacked = _stack_bands(sig, id_col, k, bands)

    # Bucket occupancy + min id come from a window over the SAME
    # (band_idx, h) partitioning the collect needs — one shuffle total,
    # no size-table joins. Window state is count/min — constant per
    # bucket regardless of occupancy; no task ever materializes a hot
    # bucket's id array. Both tiers branch off `annotated`; persist it,
    # because the branches' plans are NOT deduplicated by Spark
    # (measured: ReusedExchange never fires across the union under
    # AQE), and the parent signature aggregation is the expensive
    # subtree that would otherwise run once per branch.
    from pyspark import StorageLevel

    annotated = _annotate_buckets(stacked, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _pairs_from_annotated(annotated, id_col, max_bucket), annotated


def _annotate_buckets(stacked: DataFrame, id_col: str) -> DataFrame:
    """Attach per-bucket occupancy ``_n`` and min member ``_min_id``
    to a ``(id, band_idx, h)`` bucket table and drop singleton buckets
    — the shared input shape of :func:`_pairs_from_annotated`."""
    w = Window.partitionBy("band_idx", "h")
    return (
        stacked.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col("_n") > 1)
    )


def _pairs_from_annotated(
    annotated: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b, distinct) from an annotated
    bucket table — the ONE copy of the small/hot tier emission rule,
    shared by the batch pipeline and the incremental maintainer so the
    tier semantics can never diverge between them."""
    # Small tier: bucket-collect + in-row combinatorics (array ≤ max_bucket).
    # groupBy preserves the window's partitioning — no extra shuffle.
    buckets = (
        annotated.filter(F.col("_n") <= max_bucket)
        .groupBy("band_idx", "h")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    )
    pairs_small = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice("ids", i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")

    # Hot tier: star-link members to the bucket's min id, already
    # attached by the window — a plain filter/project, no join at all.
    pairs_hot = (
        annotated.filter(F.col("_n") > max_bucket)
        .filter(F.col(id_col) != F.col("_min_id"))
        .select(F.col("_min_id").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )
    return pairs_small.unionByName(pairs_hot).distinct()


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Standalone face of :func:`_lsh_candidates_raw`: eagerly
    materializes the candidate pairs (the SMALL end of the funnel —
    bucket-combinatorics-bounded) so the persisted bucket table is
    released here instead of leaking for the session lifetime
    (duplicate_clusters discipline; r5 watch item #1)."""
    cand, annotated = _lsh_candidates_raw(sig, id_col, k, bands, max_bucket)
    try:
        return cand.localCheckpoint(eager=True)
    finally:
        annotated.unpersist()


def _pair_overlap_stats(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for candidate pairs — the
    shared verify core of the Jaccard and containment operators.

    The shingle table is semi-joined down to candidate docs FIRST: the
    (doc, shingle) intersection join then shuffles only candidates'
    shingles, not the whole corpus (16M → ~1M rows at the 100k-doc
    smoke). No broadcast hint — AQE turns the semi-join into a
    broadcast when the candidate set is small and falls back to a
    shuffle join when near-dup volume is genuinely large."""
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    shc = sh.join(cand_docs, id_col, "left_semi")
    sizes = shc.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = shc.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = shc.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(za, "doc_a").join(zb, "doc_b")


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keeps pairs with
    j >= threshold. Intersection via equi-join on shingle, sizes via
    one agg — no per-pair re-tokenization (see _pair_overlap_stats for
    the candidate-semi-join scale shape)."""
    j = _pair_overlap_stats(pairs, sh, id_col).withColumn(
        "jaccard",
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify near-dup pipeline.

    Funnel shape (r14 rework, guide §2.3/§2.4): the corpus-wide
    DISTINCT is off the build path. What is persisted is the RAW
    shingle stream — a map-only pipeline (tokenize → explode → hash),
    so materializing the cache costs NO shuffle (the old shape paid a
    full shuffle of the pipeline's biggest intermediate, shingles ≈
    tokens × n keyed by (doc, shingle), before caching the result):

    * **Signatures read the raw stream directly.** MinHash ``min`` is
      duplicate-insensitive (pinned by
      tests/test_dedup.py::test_minhash_signatures_duplicate_insensitive),
      and the signature groupBy's map-side partial agg collapses each
      partition to one row per doc before its (only) shuffle.
    * **The verify pass distincts AFTER the candidate semi-join.**
      ``jaccard_verify`` prunes the shingle table to candidate docs
      first; Spark's PushDownLeftSemiAntiJoin pushes that semi-join
      BELOW the ``distinct()`` handed to it here (verified in the
      plan), so the dedup shuffle — needed only for exact Jaccard set
      sizes/intersections — runs over the candidates' shingles, not
      the corpus's.

    The verified pair table is eagerly materialized — ONE barrier for
    the whole pipeline — so the cache is released on exit rather than
    leaking for the session lifetime, and callers (cluster iteration)
    can re-consume it freely.

    ``sh``: a precomputed (ideally caller-persisted) ``doc_shingles``
    table to share with sibling operators (e.g. decontamination in a
    fused corpus pipeline) — the caller then owns its lifecycle, and
    both passes read it as before (already distinct; min is
    indifferent).
    """
    from pyspark import StorageLevel

    own_sh = sh is None
    if own_sh:
        sh_raw = _doc_shingles_raw(df, id_col, text_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sig_src, verify_sh = sh_raw, sh_raw.distinct()
    else:
        sig_src, verify_sh = sh, sh
    sig = minhash_signatures(sig_src, id_col, k)
    cand, annotated = _lsh_candidates_raw(sig, id_col, k, bands, max_bucket)
    try:
        # jaccard_verify consumes cand THREE times (both union legs +
        # the intersection join); materializing it here (small, bounded
        # by bucket combinatorics) is cheaper than re-running the
        # bucket-collect 3x, and lets annotated release immediately
        try:
            cand = cand.localCheckpoint(eager=True)
        finally:
            annotated.unpersist()
        return jaccard_verify(
            cand, verify_sh, id_col, threshold
        ).localCheckpoint(eager=True)
    finally:
        if own_sh:
            sh_raw.unpersist()


def lsh_bucket_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Persistent LSH state for INCREMENTAL near-dup maintenance:
    ``(id, band_idx, h, n_bucket, min_id)`` — every (doc, band)
    bucket row of the corpus, annotated with the bucket's occupancy
    and minimum member id AT BUILD TIME.

    Two deliberate differences from the batch pipeline's internal
    `annotated` table:

    * **Singleton buckets are kept.** A bucket with one corpus member
      emits no pairs today, but a batch doc landing in it tomorrow
      must pair with that member — dropping singletons would silently
      lose those future edges.
    * **Occupancy/min are frozen into the state.** The incremental
      maintainer's retention predicate (see
      :func:`incremental_minhash_clusters`) needs each PRIOR bucket's
      tier (small vs hot) and star center without rescanning or
      re-aggregating the corpus — they are facts about the prior run,
      so they are stored, not recomputed.

    Size: ``bands`` rows per doc (4 at defaults) — a few % of the
    shingle table the batch pipeline materializes, and it replaces
    re-shingling + re-hashing the corpus on every arriving batch.
    """
    stacked = band_buckets(df, id_col, text_col, n, k, bands)
    w = Window.partitionBy("band_idx", "h")
    return stacked.withColumn(
        "n_bucket", F.count(F.lit(1)).over(w)
    ).withColumn("min_id", F.min(id_col).over(w))


def incremental_minhash_clusters(
    state: DataFrame,
    prior_pairs: DataFrame,
    docs: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental MinHash-LSH near-dup maintenance: fold a NEW
    document batch into existing LSH state and return the duplicate
    clusters of corpus ∪ batch — **bit-identical to a full recompute**
    (``duplicate_clusters(minhash_lsh_dedup(corpus ∪ batch))``), at
    cost proportional to the batch, not the corpus.

    Inputs: ``state`` = :func:`lsh_bucket_state` of the corpus;
    ``prior_pairs`` = the corpus run's verified pairs
    (:func:`minhash_lsh_dedup` output); ``docs`` = corpus ∪ batch text
    source (only AFFECTED docs are re-shingled from it); ``batch`` =
    the new docs (ids disjoint from the corpus). Hyper-parameters must
    match the ones the state was built with.

    Why this is exact (the full-recompute candidate set decomposes by
    bucket, and signatures of old docs never change):

    * Buckets touched by NO batch doc have identical membership before
      and after, so their verified pairs are exactly the prior-run
      pairs *attributable to* ≥1 such bucket. A prior pair (a, b)
      arises from bucket B iff both a and b are members AND the tier
      rule emitted it — all pairs when ``n_bucket <= max_bucket``,
      star pairs ``(min_id, x)`` otherwise, i.e. ``min_id = a`` (the
      star center is the bucket min and pairs are ordered a < b).
      The frozen ``n_bucket``/``min_id`` state evaluates this
      predicate with two id-keyed joins over the (small) verified
      pair table — no corpus rescan.
    * Buckets touched by ≥1 batch doc ("affected") are regenerated
      from scratch — state members + batch members, occupancy and
      star center recomputed over the union, pairs emitted by the
      SAME :func:`_pairs_from_annotated` the batch pipeline uses —
      then Jaccard-verified against shingles of affected docs only.
      This handles every tier transition (a small bucket crossing
      ``max_bucket``, a batch doc becoming the new star center): the
      affected bucket's pairs are computed fresh under the new facts,
      never patched.

    Union of the two legs = verify(unaffected candidates) ∪
    verify(affected candidates) = the full recompute's verified pair
    set, so connected components agree exactly.

    Scale shape: the expensive full-recompute stages — tokenize,
    shingle, MinHash over the corpus — run on the BATCH only, plus a
    re-shingle of affected docs (bounded by bucket co-occupants of
    batch docs). State is probed with broadcast-able joins keyed by
    bucket / doc id (batch bucket keys and verified pairs are both
    small); no stage shuffles corpus text. Measured at gen scale in
    scripts/scale.py incremental.
    """
    from pyspark import StorageLevel

    bb = band_buckets(batch, id_col, text_col, n, k, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        affected = bb.select("band_idx", "h").distinct()

        # ---- affected-bucket leg: regenerate under the new facts ----
        members = (
            state.join(F.broadcast(affected), ["band_idx", "h"], "left_semi")
            .select(id_col, "band_idx", "h")
            .unionByName(bb)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cand_aff = _pairs_from_annotated(
            _annotate_buckets(members, id_col), id_col, max_bucket
        )
        affected_ids = members.select(id_col).distinct()
        sh_aff = doc_shingles(
            docs.join(affected_ids, id_col, "left_semi"), id_col, text_col, n
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            cand_aff = cand_aff.localCheckpoint(eager=True)
            new_verified = jaccard_verify(cand_aff, sh_aff, id_col, threshold)

            # ---- unaffected leg: retain prior pairs attributable to
            # ≥1 bucket no batch doc touched ----
            sa = state.select(
                F.col(id_col).alias("doc_a"),
                "band_idx",
                "h",
                "n_bucket",
                "min_id",
            )
            sb = state.select(F.col(id_col).alias("doc_b"), "band_idx", "h")
            retained = (
                prior_pairs.select("doc_a", "doc_b")
                .join(sa, "doc_a")
                .join(sb, ["doc_b", "band_idx", "h"])
                .join(F.broadcast(affected), ["band_idx", "h"], "left_anti")
                .filter(
                    (F.col("n_bucket") <= F.lit(max_bucket))
                    | (F.col("min_id") == F.col("doc_a"))
                )
                .select("doc_a", "doc_b")
                .distinct()
            )

            all_pairs = (
                new_verified.select("doc_a", "doc_b")
                .unionByName(retained)
                .distinct()
                .localCheckpoint(eager=True)
            )
        finally:
            sh_aff.unpersist()
            members.unpersist()
        return duplicate_clusters(all_pairs, "doc_a", "doc_b")
    finally:
        bb.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.3,
) -> DataFrame:
    """n-gram Jaccard near-dup with rare-shingle blocking: candidate
    pairs must share a shingle appearing in <= max_df docs — bounds the
    pairwise blow-up on a repetitive corpus (the scale guard a naive
    shingle self-join lacks)."""
    from pyspark import StorageLevel

    sh = doc_shingles(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cand = _rare_shingle_candidates(sh, id_col, max_df)
        return jaccard_verify(cand, sh, id_col, threshold).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def _rare_shingle_candidates(sh: DataFrame, id_col: str, max_df: int) -> DataFrame:
    """(doc_a, doc_b) candidates sharing a shingle that appears in
    <= max_df docs — the blocking core shared by the Jaccard and
    containment operators (one copy, so a change to the blocking
    semantics can't silently diverge between them)."""
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")
    a = rare.select(F.col(id_col).alias("doc_a"), "shingle")
    b = rare.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int = 10,
    threshold: float = 0.8,
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup: ``|A∩B| / min(|A|, |B|)`` — the
    subset detector Jaccard structurally misses. A 100-line excerpt
    embedded in a 10,000-line page has Jaccard ≈ 0.01 but containment
    ≈ 1.0; web scrapes are full of exactly this shape (quotes,
    syndication, boilerplate-wrapped copies), and dedup pipelines that
    only threshold Jaccard keep both copies (Broder's original
    resemblance/containment distinction).

    Same scale shape as :func:`ngram_jaccard_pairs`: rare-shingle
    (df <= max_df) blocking bounds candidates (shared
    _rare_shingle_candidates core), verify via _pair_overlap_stats —
    so the candidate-doc semi-join pushdown applies here too (the
    first version re-aggregated the FULL shingle table; code-review r6
    finding); the small verified-pair end is materialized and the
    shingle cache released (r6 lifecycle discipline).
    Emits (doc_a, doc_b, containment) with doc_a < doc_b; the fraction
    is one exact int/int division — engine-portable unrounded.
    """
    from pyspark import StorageLevel

    sh = doc_shingles(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cand = _rare_shingle_candidates(sh, id_col, max_df)
        out = (
            _pair_overlap_stats(cand, sh, id_col)
            .withColumn(
                "containment",
                F.col("inter").cast("double")
                / F.least("sz_a", "sz_b").cast("double"),
            )
            .filter(F.col("containment") >= threshold)
            .select("doc_a", "doc_b", "containment")
        )
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash over the distinct token set: bit j votes +1/-1 by bit j
    of md5(token); sign of the vote sum forms the fingerprint.

    Bit extraction via `conv(hexdigit,16,10)` — pure integer math, so
    a SQL oracle replicates it exactly. Docs sharing a fingerprint are
    near-dup candidates (hamming-0 bucket)."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).distinct()
    tok = tok.withColumn("h", F.md5("tok"))
    votes = []
    for j in range(bits):
        nib = F.conv(F.substring("h", j // 4 + 1, 1), 16, 10).cast("int")
        bit = F.floor(nib / (2 ** (j % 4))) % 2
        votes.append(F.sum(bit * 2 - 1).alias(f"v{j}"))
    v = tok.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, 2**j).otherwise(0)
        sim = term if sim is None else sim + term
    return v.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits — the proper
    radius search the hamming-0 bucket grouping of :func:`simhash`
    under-approximates.

    Defaults: 60-bit fingerprints (stays in signed-long range, md5 has
    hex digits to spare) split into four 15-bit chunks — 32k bucket
    values per chunk keeps occupancy low where 16-bit prints would
    degenerate.

    **Pigeonhole blocking**: split the fingerprint into
    ``max_hamming + 1`` contiguous chunks; two prints within
    ``max_hamming`` bits must agree EXACTLY on at least one chunk, so
    candidates come from equi-joins on (chunk_idx, chunk_value) —
    bucketed like LSH banding, never an all-pairs scan. Verification is
    one integer popcount per candidate (``bit_count(a XOR b)``) —
    exact, cheap, SQL-replicable. Hot chunks (boilerplate fingerprints)
    reuse the same star-link guard as :func:`lsh_candidate_pairs`:
    above ``max_bucket`` members a chunk bucket emits hub spokes only,
    still connecting the near-identical cluster. One shuffle for the
    fingerprints, one for the chunk buckets.
    """
    sig = simhash(df, id_col, text_col, bits)
    return hamming_near_dup_pairs(
        sig, id_col, "simhash", bits=bits, max_hamming=max_hamming, max_bucket=max_bucket
    )


def hamming_near_dup_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Radius-``max_hamming`` Hamming self-join over PRECOMPUTED integer
    fingerprints — the pigeonhole blocking + popcount-verify core of
    :func:`simhash_near_dup`, exposed separately so any ≤63-bit
    signature reuses the same discipline (SimHash over tokens, image
    pHash, audio fingerprints). Split into ``max_hamming + 1`` chunks:
    two prints within the radius must agree exactly on ≥1 chunk, so
    candidates come from (chunk_idx, chunk_value) equi-joins — never an
    all-pairs scan; hot chunks degrade to hub spokes above
    ``max_bucket``. Returns (doc_a, doc_b, hamming) with doc_a < doc_b
    for in-bucket pairs (hub pairs anchor at the bucket min id)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    sig = sig_df.select(F.col(id_col), F.col(sig_col).alias("simhash"))

    chunk_cols = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .cast("long")
                .alias("h"),
            )
            for c in range(chunks)
        ]
    )
    stacked = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(chunk_cols).alias("b")
    ).select(id_col, "simhash", F.col("b.chunk_idx").alias("band_idx"), F.col("b.h"))

    from pyspark import StorageLevel

    w = Window.partitionBy("band_idx", "h")
    annotated = (
        stacked.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col("_n") > 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    buckets = (
        annotated.filter(F.col("_n") <= max_bucket)
        .groupBy("band_idx", "h")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s")))
            ).alias("ms")
        )
    )
    pairs_small = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ms",
                    lambda x, i: F.transform(
                        F.slice("ms", i + 2, F.size("ms")),
                        lambda y: F.struct(
                            x["i"].alias("doc_a"),
                            y["i"].alias("doc_b"),
                            x["s"].alias("sa"),
                            y["s"].alias("sb"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.sa", "p.sb")
    hubs = annotated.filter(F.col("_n") > max_bucket)
    hub_sigs = hubs.filter(F.col(id_col) == F.col("_min_id")).select(
        "band_idx", "h", F.col("simhash").alias("sa")
    ).dropDuplicates(["band_idx", "h"])
    pairs_hot = (
        hubs.filter(F.col(id_col) != F.col("_min_id"))
        .join(hub_sigs, ["band_idx", "h"])
        .select(
            F.col("_min_id").alias("doc_a"),
            F.col(id_col).alias("doc_b"),
            "sa",
            F.col("simhash").alias("sb"),
        )
    )
    cand = pairs_small.unionByName(pairs_hot).dropDuplicates(["doc_a", "doc_b"])
    # verified-pair funnel end: materialize, release the bucket cache
    try:
        return (
            cand.withColumn(
                "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
            .localCheckpoint(eager=True)
        )
    finally:
        annotated.unpersist()


def dot(x: Column, y: Column) -> Column:
    """Sequential-fold dot product over two array columns — float
    elements cast to double before multiply (matches an oracle's
    CAST(x AS DOUBLE) arithmetic), no UDF. Exposed so callers can
    precompute norms (sqrt(dot(v, v))) ONCE per row instead of three
    folds per scored pair — same doubles, same rounding, 3x less
    expression work in broadcast fan-outs."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine over two array<float> columns; see :func:`dot`."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


#: Above this occupancy a block stops emitting all pairs (see
#: embedding_near_dup). 4096² / 2 ≈ 8.4M cosine evaluations is the
#: most one block may cost; beyond that the block degrades to a star.
DEFAULT_MAX_BLOCK = 4096


def embedding_near_dup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Embedding-cosine near-dup, blocked on `block_col` (label/source/
    LSH bucket) so pairwise work is per-block, never corpus-wide.
    Cosine rounded to 6dp before thresholding (engine-portable).

    **Hot-block guard.** A degenerate `block_col` value (one label
    holding most of the corpus) drives the in-block join toward O(n²).
    Blocks above ``max_block`` members switch from all-pairs to a
    **star**: each member scored only against the block's minimum-id
    representative — n−1 cosines, fully distributed, same output
    schema. For finer recall inside huge blocks, re-block with a
    sharper key (e.g. :func:`strava_etl_public_spark.operators.
    similarity.lsh_bucket` codes) instead of raising the cap."""
    sizes = emb.groupBy(block_col).agg(
        F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_min_id")
    )
    small = sizes.filter(F.col("_n") <= max_block).select(block_col)
    hot = sizes.filter(F.col("_n") > max_block).select(block_col, "_min_id")

    a = emb.join(small, block_col).select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = emb.join(small, block_col).select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, "_blk").filter(F.col("id_a") < F.col("id_b"))

    # Star tier: representative vectors are one row per hot block —
    # joined back (AQE broadcasts the rep side when it is small).
    hot_members = emb.join(hot, block_col)
    reps = (
        hot_members.filter(F.col(id_col) == F.col("_min_id"))
        .select(F.col(block_col).alias("_blk"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    )
    others = hot_members.filter(F.col(id_col) != F.col("_min_id")).select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs_hot = reps.join(others, "_blk")

    out = pairs.unionByName(pairs_hot).withColumn(
        "cos", F.round(cosine(F.col("va"), F.col("vb")), 6)
    )
    return out.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
    corpus_shingles: DataFrame | None = None,
    benchmark_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap with an
    evaluation corpus (the train/test-contamination check every
    training-data pipeline runs before a model ships — e.g. the 13-gram
    scan in Brown et al. 2020 appendix C; n is a knob here).

    Emits one row per corpus doc: distinct-shingle count, how many of
    those shingles appear anywhere in the benchmark, the overlap
    fraction, and a boolean flag at ``threshold``. Docs with fewer
    than ``n`` tokens have no shingles → fraction 0.0, never flagged.

    Scale shape (100 TB corpus vs MB-scale benchmark): the benchmark's
    distinct shingle set is bounded (eval suites are tiny) and is
    **broadcast**, so the corpus side is a map-only probe — shingle
    explode, broadcast left join, one per-doc hash agg. The corpus is
    never shuffled pairwise against anything; cost is one pass.
    Shingle identity is the 60-bit md5 prefix from :func:`doc_shingles`
    (fixed-width join keys, engine-replicable).

    ``corpus_shingles`` / ``benchmark_shingles``: precomputed (ideally
    caller-persisted) ``doc_shingles`` tables, so a fused pipeline that
    also runs MinHash dedup shingles the corpus ONCE.
    """
    if corpus_shingles is None:
        corpus_shingles = doc_shingles(corpus, id_col, text_col, n)
    if benchmark_shingles is None:
        benchmark_shingles = doc_shingles(benchmark, id_col, text_col, n)
    d = corpus_shingles.select(id_col, "shingle")
    b = (
        benchmark_shingles
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per = (
        d.join(F.broadcast(b), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double"), 6
    )
    out = per.withColumn("contamination_frac", frac)
    return (
        corpus.select(F.col(id_col))
        .join(out, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.coalesce("contamination_frac", F.lit(0.0)).alias("contamination_frac"),
            (F.coalesce("contamination_frac", F.lit(0.0)) >= threshold).alias(
                "flagged"
            ),
        )
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    small_graph_edges: int = 1 << 20,
) -> DataFrame:
    """Connected components over a near-dup PAIR table → per-doc
    canonical representative — the step that turns pairwise dedup
    output into "keep one doc per duplicate cluster" (what a training
    pipeline actually applies; reference-free extension, the standard
    CC-over-LSH-pairs recipe).

    Algorithm: deterministic min-label propagation (hash-min). Every
    node starts labeled with its own id; each round every node takes
    the min of its label and its neighbors' labels; at the fixed point
    every node carries the smallest doc id in its component — a pure
    function of the edge SET, independent of iteration order,
    partitioning, or engine, so a SQL oracle (recursive closure)
    reproduces it exactly.

    Scale shape per round: one equi-join of the (persisted,
    bidirectional) edge list against the label table + one min-agg —
    both shuffles keyed on doc id; state is one row per node, lineage
    cut each round (localCheckpoint, the iterative-algorithm pattern).
    Rounds needed = component diameter, and near-dup components are
    shallow (duplicate chains, not arbitrary graphs) — the fixture
    converges in ≤3. The per-round driver scalar is the changed-label
    count (bounded control flow, same as Lloyd's movement check).
    Raises if ``max_iters`` rounds don't converge — a wrong-but-silent
    cluster map must never reach the keep-list.

    Emits ``(doc_id, rep_id, cluster_size)`` for every doc appearing
    in ≥1 pair; docs in no pair are singletons and not emitted (the
    keep-list is corpus ∖ {members with rep_id ≠ doc_id}).
    """
    from pyspark import StorageLevel

    a, b = F.col(a_col), F.col(b_col)
    # persist the pair source BEFORE the bidirectional union — its two
    # legs are two consumers, and the pair table is usually the tail of
    # an expensive pipeline (minhash/LSH) that would otherwise run
    # twice (measured ~2x the pair-pipeline cost without this)
    pairs = pairs.select(a.alias("_pa"), b.alias("_pb")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges = (
        pairs.select(F.col("_pa").alias("src"), F.col("_pb").alias("dst"))
        .unionByName(pairs.select(F.col("_pb").alias("src"), F.col("_pa").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # try/finally so the non-convergence RuntimeError releases the
    # persisted edge/pair tables too (ADVICE r5)
    try:
        # SMALL-GRAPH FAST PATH (r7): near-dup pair tables are usually
        # tiny relative to the corpus (pairs ≪ docs). Below
        # ``small_graph_edges`` the DEDUPLICATED edge list is bounded
        # driver model state (2²⁰ Rows ≈ low hundreds of MB worst
        # case) and a local union-find replaces the per-round
        # join+agg+count job train — identical output (min-id
        # representative is order-independent), but 2·rounds Spark
        # jobs collapse into one collect. Above the bound the
        # distributed label propagation below runs unchanged — that IS
        # the 100 TB path. The collect reads ``edges`` — the same
        # distinct table the guard counted — NEVER the raw pair table,
        # whose duplicate rows (LSH multi-band emits, unioned reruns)
        # can dwarf the distinct count (r7 code-review catch).
        n_edges = edges.count()  # also materializes the persist
        if n_edges <= small_graph_edges:
            ew = [(r[0], r[1]) for r in edges.collect()]
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for u, v in ew:
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
            comp: dict = {}
            nodes = {u for e in ew for u in e}
            for u in nodes:
                comp.setdefault(find(u), []).append(u)
            rows = []
            for members in comp.values():
                rep = min(members)
                size = len(members)
                rows.extend((m, rep, size) for m in sorted(members))
            # id type from the UNION-widened edge table, not _pa alone:
            # mixed-width pair columns (doc_a INT ⋈ doc_b BIGINT) widen
            # through unionByName on the distributed path, and the fast
            # path must emit the same schema (r7 code-review catch)
            id_t = edges.schema["src"].dataType.simpleString()
            return pairs.sparkSession.createDataFrame(
                rows, f"doc_id {id_t}, rep_id {id_t}, cluster_size long"
            )

        labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
            "lab", F.col("id")
        ).localCheckpoint()
        for _ in range(max_iters):
            nbr_min = (
                edges.join(labels, edges.src == labels.id)
                .groupBy("dst")
                .agg(F.min("lab").alias("_nbr"))
            )
            merged = (
                labels.join(nbr_min, labels.id == nbr_min.dst, "left")
                .select(
                    "id",
                    "lab",
                    F.least(F.col("lab"), F.coalesce("_nbr", F.col("lab"))).alias("_new"),
                )
            ).localCheckpoint()  # cut lineage; also materializes for the count
            changed = merged.filter(F.col("_new") != F.col("lab")).count()
            labels = merged.select("id", F.col("_new").alias("lab"))
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"duplicate_clusters did not converge in {max_iters} rounds "
                "(component diameter exceeds the cap — raise max_iters)"
            )
    finally:
        edges.unpersist()
        pairs.unpersist()
    cc = labels.select(F.col("id").alias("doc_id"), F.col("lab").alias("rep_id"))
    sizes = cc.groupBy("rep_id").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return cc.join(sizes, "rep_id").select("doc_id", "rep_id", "cluster_size")


def jaccard_join_prefix(
    sets: DataFrame,
    id_col: str,
    elem_col: str,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    """EXACT set-similarity self-join: every pair (id1 < id2) whose
    element-set Jaccard is ≥ tau_num/tau_den — with a COMPLETENESS
    guarantee, via prefix filtering (Bayardo et al., "Scaling Up All
    Pairs Similarity Search", WWW'07): order each set's elements by
    global rarity (document frequency asc, element asc) and keep only
    the first ``s − ⌈τ·s⌉ + 1`` as its signature prefix; any pair
    meeting τ MUST share a prefix element (if two sets share none of
    either's prefix, their overlap is bounded below τ — the pigeonhole
    argument), so joining on prefix elements misses nothing. This is
    the exact counterpart of `ngram_jaccard_pairs`, whose max_df
    blocking deliberately drops pairs that share only common shingles.

    τ is a rational and every comparison is integer cross-multiplied
    (⌈τ·s⌉ = (s·num + den − 1) div den; the final test is
    inter·den ≥ union·num) — no float thresholds, so the result set is
    exact and oracle-checkable.

    Scale shape: one df hash-agg, one element-keyed annotate join, a
    per-SET local sort (collect + array_sort — bounded by document
    size, never a global rank window), candidate generation joining
    ONLY prefix elements (the rare tail — candidate count is the
    algorithm's whole point), then verification joins bounded by
    Σ_pairs |set|. Input is a pre-exploded ``(id, elem)`` table with
    one row per distinct element per set (build one with
    :func:`doc_shingles` for shingle resemblance, or token explode
    for bag-of-words)."""
    from pyspark import StorageLevel

    # `sets` feeds the df agg, the annotate join, and both verification
    # legs — four consumers of an often-expensive shingle derivation
    # (plan-audit finding; Spark never dedupes common subtrees)
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    dfc = sets.groupBy(elem_col).agg(F.count(F.lit(1)).alias("_df"))
    ann = sets.join(dfc, elem_col)
    per = ann.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("_df", elem_col))).alias("_sorted"),
        F.count(F.lit(1)).alias("_s"),
    )
    ceil_tau_s = F.expr(f"(_s * {tau_num} + {tau_den - 1}) div {tau_den}")
    plen = (F.col("_s") - ceil_tau_s + 1).cast("int")
    prefix = per.select(
        F.col(id_col),
        F.col("_s"),
        F.explode(F.slice("_sorted", F.lit(1), plen)).alias("_e"),
    ).select(id_col, "_s", F.col(f"_e.{elem_col}").alias(elem_col))

    a = prefix.select(
        F.col(id_col).alias("_id1"), F.col("_s").alias("s1"), elem_col
    )
    b = prefix.select(
        F.col(id_col).alias("_id2"), F.col("_s").alias("s2"), elem_col
    )
    cand = (
        a.join(b, elem_col)
        .filter(F.col("_id1") < F.col("_id2"))
        .select("_id1", "_id2", "s1", "s2")
        .distinct()
    )
    ta = sets.select(F.col(id_col).alias("_id1"), F.col(elem_col).alias("_ea"))
    tb = sets.select(F.col(id_col).alias("_id2b"), F.col(elem_col).alias("_eb"))
    inter = (
        cand.join(ta, "_id1")
        .join(
            tb,
            (F.col("_id2") == F.col("_id2b")) & (F.col("_ea") == F.col("_eb")),
        )
        .groupBy("_id1", "_id2", "s1", "s2")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    union = F.col("s1") + F.col("s2") - F.col("inter_size")
    try:
        return (
            inter.filter(F.col("inter_size") * tau_den >= union * tau_num)
            .select(
                F.col("_id1").alias("id1"),
                F.col("_id2").alias("id2"),
                F.col("inter_size").cast("long").alias("inter_size"),
                F.col("s1").cast("long").alias("s1"),
                F.col("s2").cast("long").alias("s2"),
                F.round(
                    F.col("inter_size").cast("double") / union.cast("double"), 6
                ).alias("jaccard"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        sets.unpersist()


def edit_distance_join(
    sets: DataFrame,
    id_col: str,
    str_col: str,
    max_d: int = 1,
) -> DataFrame:
    """Fuzzy self-join on edit distance ≤ ``max_d`` via deletion-
    neighborhood blocking (the SymSpell index, Garbe 2012): each
    string's candidate key set is itself plus every string reachable
    by deleting up to ``max_d`` characters; two strings within edit
    distance d are GUARANTEED to share a key (equal → the string
    itself; substitution → both sides' deletion at the differing
    position; insert/delete → the shorter string equals a deletion of
    the longer), so joining on keys then verifying with
    ``levenshtein`` is exact — the record-linkage / typo-dedup face
    next to the set-similarity joins (token-level: jaccard_join_prefix;
    char-level: this).

    Scale: key generation is a map-only explode of ≤ len+1 variants
    per string (d=1; d grows it to O(len^d) — the classic SymSpell
    trade documented upstream), the join is equi on variant strings,
    and verification touches only candidate pairs. The naive plan is
    an all-pairs levenshtein cross join — what the oracle runs.
    Currently implements d=1 blocking (raises otherwise): every
    deletion generated by built-in column functions, no UDF."""
    if max_d != 1:
        raise NotImplementedError("deletion blocking implemented for max_d=1")
    s = F.col(str_col)
    variants = F.array_union(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda k: F.concat(
                F.substring(s, F.lit(1), k - 1),
                s.substr(k + 1, F.length(s)),
            ),
        ),
    )
    keyed = sets.select(
        F.col(id_col), F.col(str_col), F.explode(variants).alias("_k")
    )
    a = keyed.select(
        F.col(id_col).alias("id1"), F.col(str_col).alias("s1"), "_k"
    )
    b = keyed.select(
        F.col(id_col).alias("id2"), F.col(str_col).alias("s2"), "_k"
    )
    cand = (
        a.join(b, "_k")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "s1", "id2", "s2")
        .distinct()
    )
    return (
        cand.withColumn("distance", F.levenshtein("s1", "s2").cast("long"))
        .filter(F.col("distance") <= max_d)
        .select("id1", "id2", "distance")
    )


def hamming_incremental_pairs(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    prior_pairs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 63,
    max_hamming: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """INCREMENTAL maintenance of the Hamming radius self-join (the
    round-8 maintenance theme applied to fingerprint dedup): given the
    corpus signature table, a NEW batch's signatures, and the
    already-verified corpus pairs, produce the pair set of
    (corpus ∪ batch) at cost proportional to the BATCH.

    Exactness argument — simpler than the MinHash-LSH case because
    pigeonhole blocking is stateless: pairs(C ∪ B) partitions exactly
    into pairs(C) (given: ``prior_pairs``) ∪ pairs touching B. Every
    pair within the radius shares ≥1 chunk value, so pairs touching B
    are found COMPLETELY by equi-joining B's chunk table against the
    union's chunk table — one bucket join keyed by the batch, never a
    corpus×corpus regeneration. The hub guard applies only to the new
    candidates (prior pairs are already verified output). Dedup at
    the end removes the batch-batch pair double-count and any prior
    pair rediscovered through a batch doc's bucket (impossible by
    construction — batch ids are new — but cheap insurance against a
    caller passing overlapping ids)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks

    def chunk_table(sigs: DataFrame) -> DataFrame:
        cols = F.array(
            *[
                F.struct(
                    F.lit(c).alias("band_idx"),
                    F.shiftright(F.col("_sig"), c * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .cast("long")
                    .alias("h"),
                )
                for c in range(chunks)
            ]
        )
        return (
            sigs.select(F.col(id_col), F.col(sig_col).alias("_sig"))
            .select(id_col, "_sig", F.explode(cols).alias("b"))
            .select(id_col, "_sig", "b.band_idx", "b.h")
        )

    from pyspark import StorageLevel

    union_chunks = chunk_table(
        corpus_sigs.unionByName(batch_sigs)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    batch_chunks = chunk_table(batch_sigs)

    try:
        # bucket occupancy guard computed on the union (same hub
        # semantics as the full path: oversized buckets emit spokes
        # against the bucket min only)
        w = Window.partitionBy("band_idx", "h")
        ann = union_chunks.withColumn("_n", F.count(F.lit(1)).over(w)).withColumn(
            "_min_id", F.min(id_col).over(w)
        )
        probe = batch_chunks.select(
            "band_idx", "h", F.col(id_col).alias("_bid"), F.col("_sig").alias("_bsig")
        )
        cand = (
            ann.join(probe, ["band_idx", "h"])
            .filter(F.col(id_col) != F.col("_bid"))
            .filter((F.col("_n") <= max_bucket) | (F.col("_min_id") == F.col(id_col)) | (F.col("_min_id") == F.col("_bid")))
            .select(
                F.least(F.col(id_col), F.col("_bid")).alias("doc_a"),
                F.greatest(F.col(id_col), F.col("_bid")).alias("doc_b"),
                F.when(F.col(id_col) < F.col("_bid"), F.col("_sig"))
                .otherwise(F.col("_bsig"))
                .alias("sa"),
                F.when(F.col(id_col) < F.col("_bid"), F.col("_bsig"))
                .otherwise(F.col("_sig"))
                .alias("sb"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        new_pairs = (
            cand.withColumn(
                "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming")
        )
        return (
            prior_pairs.select("doc_a", "doc_b", "hamming")
            .unionByName(new_pairs)
            .dropDuplicates(["doc_a", "doc_b"])
            .localCheckpoint(eager=True)
        )
    finally:
        union_chunks.unpersist()
