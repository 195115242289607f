"""Scale measurements: one entry per measured scale claim.

Usage: python scripts/scale.py NAME [size ...]

Each entry is a function ``(spark, root, **sizes) -> dict`` that runs
one measurement on the session it is given, writes its scratch data
under ``root`` and returns its numbers plus an ``ok`` verdict. The
positional ``size`` arguments fill the entry's parameters in order
(see each signature for the defaults). The prelude here builds the
session (``get_spark`` + ``ensure_harness_conf``), makes and removes
the temp root, and prints the result as one JSON line; the exit code
is 0 when ``ok``. ``tests/test_scale_harness.py`` runs every entry at
a small size.

Entries: pipeline, text, ann, quality, cc, rangejoin, maintenance,
dv, update, incremental, lineage_pq, manifest, sink, ann_tune.
Results at full size are recorded in SCALE.md.
"""

from __future__ import annotations

import inspect
import json
import math
import os
import shutil
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from pyspark.sql import functions as F  # noqa: E402

from strava_etl_public_spark.io import DEFAULT_SF_DIR  # noqa: E402

# generated tiers: python scripts/gen_scale_tier.py <sf> /tmp/sfgen/sf<sf>
GEN_SF01, GEN_SF1 = "/tmp/sfgen/sf0.1", "/tmp/sfgen/sf1"


# ---- prelude ---------------------------------------------------------


def best(fn, reps: int = 1):
    """``(last result, best wall seconds)`` over ``reps`` calls."""
    secs, out = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        secs = min(secs, time.perf_counter() - t0)
    return out, secs


def cached(df):
    """``df`` persisted and materialized."""
    df = df.persist()
    df.count()
    return df


def dir_bytes(p: str) -> int:
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p) for f in fs
    )


def write_events(spark, root: str, n: int):
    """``gen_events`` (n events, n/20 users) written under ``root`` and
    read back, so every timed step starts from parquet."""
    from gen_scale_tier import gen_events

    path = os.path.join(root, "events")
    gen_events(spark, n, n_users=max(n // 20, 1)).write.parquet(path)
    return spark.read.parquet(path)


# ---- activity pipeline -----------------------------------------------


def pipeline(spark, root, n_activities=200, max_len=100_000):
    """The full reference chain at realistic per-activity lengths
    (reference main.py:56 allows 100 000-second activities): skewed
    lengths (activity 0 at ``max_len`` samples, the rest log-spread
    down to 100, ~40 % of ticks dropped), then densify → interpolate →
    triangular rolling over all 11 reference windows on 3 metrics →
    per-activity maxima → nested-record assembly. The memory check for
    the W1 box composition (no 1200-element collect_list arrays) and
    the skew check for the J1 spine explode."""
    from strava_etl_public_spark.operators import assemble, resample, rolling

    metrics = ["heartrate", "watts", "velocity_smooth"]
    acts = spark.range(n_activities).select(
        F.col("id").alias("activity_id"),
        F.greatest(
            (F.lit(max_len) / F.pow(F.lit(1.04), F.col("id"))).cast("long"),
            F.lit(100),
        ).alias("n_samples"),
    )
    samples = acts.select(
        "activity_id",
        F.explode(F.sequence(F.lit(0), F.col("n_samples"))).alias("time_key"),
    )
    sparse = samples.filter(F.pmod(F.hash("activity_id", "time_key"), 10) < 6)
    gen = sparse.select(
        "activity_id",
        "time_key",
        *[
            F.when(
                F.pmod(F.hash(F.lit(m), "activity_id", "time_key"), 20) != 0,
                (F.pmod(F.hash(F.lit(m + "v"), "activity_id", "time_key"), 2000) / 10.0),
            ).alias(m)
            for m in metrics
        ],
    )
    stage = os.path.join(root, "streams")
    gen.write.parquet(stage)
    streams = spark.read.parquet(stage)
    n_in = streams.count()

    def run():
        dense = resample.densify(streams, "activity_id", "time_key")
        interp = resample.interpolate_linear(dense, "activity_id", "time_key", metrics)
        rolled = rolling.rolling_mean_triang(
            interp, "activity_id", "time_key", metrics, rolling.REFERENCE_WINDOWS
        )
        maxs = rolling.activity_maxes(rolled, "activity_id", metrics)
        nested = assemble.collect_samples(interp, "activity_id", "time_key", metrics)
        header = acts.select("activity_id", F.concat(F.lit("act_"), "activity_id").alias("name"))
        out = assemble.assemble_records(header, nested, maxs, "activity_id")
        out.write.format("noop").mode("overwrite").save()
        return dense

    dense, wall = best(run)
    dense_rows = dense.count()
    # densify fills each activity's [first, last] sample range: never
    # fewer rows than were sampled, never more than the full timeline
    timeline = acts.agg(F.sum(F.col("n_samples") + 1)).first()[0]
    return {
        "input_samples": n_in,
        "dense_rows": dense_rows,
        "windows": len(rolling.REFERENCE_WINDOWS) * len(metrics),
        "wall_s": round(wall, 1),
        "dense_rows_per_s": int(dense_rows / wall),
        "ok": n_in <= dense_rows <= timeline,
    }


# ---- text / dedup ----------------------------------------------------


def text(spark, root, n_docs=100_000):
    """Exact dedup, MinHash+LSH near-dup and SimHash over ``n_docs``
    synthetic documents (30-300 tokens from a 5000-word vocabulary)
    with planted duplicates: every 100th doc is an exact copy of its
    predecessor, every other 20th a near-copy (one token appended).
    Candidate pairs must stay ~linear in the planted-dup count. Then a
    degenerate corpus: a boilerplate blob of identical docs lands in
    one band bucket; the ``max_bucket`` star guard must emit exactly
    B-1 hub pairs and leave normal-corpus recall untouched."""
    from strava_etl_public_spark.operators import dedup

    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    base = base.withColumn(
        "_seed",
        F.when((F.col("doc_id") % 20 == 0) & (F.col("doc_id") > 0), F.col("doc_id") - 1)
        .otherwise(F.col("doc_id")),
    ).withColumn("_n_words", (F.pmod(F.hash("_seed"), 271) + 30).cast("int"))
    words = F.transform(
        F.sequence(F.lit(1), F.col("_n_words")),
        lambda i: F.format_string("w%d", F.pmod(F.hash(F.col("_seed"), i), 5000)),
    )
    body = F.array_join(words, " ")
    is_near = (F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 50 != 0) & (F.col("doc_id") > 0)
    docs = base.select(
        "doc_id",
        F.when(is_near, F.concat(body, F.lit(" zz_changed"))).otherwise(body).alias("text"),
    )
    docs = cached(docs.repartition(spark.sparkContext.defaultParallelism))
    n = docs.count()
    # exact copies: seed shift (doc_id % 20 == 0) with no appended token
    # (doc_id % 50 == 0), i.e. doc_id % 100 == 0; LSH also reports every
    # exact pair at jaccard 1.0
    planted_exact = (n_docs - 1) // 100
    planted_near = (n_docs - 1) // 20 - (n_docs - 1) // 100 + planted_exact

    n_exact, t_exact = best(
        lambda: dedup.dedup_exact(docs, "doc_id", "text").filter(F.col("n_copies") > 1).count()
    )
    n_near, t_near = best(
        lambda: dedup.minhash_lsh_dedup(
            docs, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5
        ).count()
    )
    sim_groups, t_sim = best(
        lambda: dedup.simhash(docs, "doc_id", "text", bits=16)
        .groupBy("simhash").count().filter(F.col("count") > 1).count()
    )
    # exact dedup is exhaustive; LSH recall < 1 is by design (k=8 perms,
    # 4 bands: short docs near the threshold can miss every band)
    ok_planted = n_exact == planted_exact and n_near >= 0.99 * planted_near

    # one bucket larger than the guard's cap at every corpus size
    blob_n = max(n_docs // 5, dedup.DEFAULT_MAX_BUCKET + 1)
    blob = spark.range(blob_n).select(
        (F.col("id") + n_docs).alias("doc_id"),
        F.lit(
            "standard boilerplate terms of service agreement text repeated "
            "verbatim across the crawl please read carefully before using "
            "this website and its affiliated services without limitation"
        ).alias("text"),
    )
    degen = cached(docs.unionByName(blob))
    near2, t_degen = best(lambda: cached(dedup.minhash_lsh_dedup(
        degen, "doc_id", "text", n=3, k=8, bands=4, threshold=0.5
    )))
    blob_pairs = near2.filter(F.col("doc_a") >= n_docs).count()
    normal_pairs = near2.filter(F.col("doc_b") < n_docs).count()
    for df in (near2, degen, docs):
        df.unpersist()
    return {
        "docs": n,
        "planted_exact_groups": planted_exact,
        "planted_near_pairs": planted_near,
        "exact_dedup_s": round(t_exact, 1),
        "dup_groups": n_exact,
        "minhash_lsh_s": round(t_near, 1),
        "near_pairs": n_near,
        "simhash_s": round(t_sim, 1),
        "colliding_fps": sim_groups,
        "degenerate_s": round(t_degen, 1),
        "blob_docs": blob_n,
        "blob_pairs": blob_pairs,
        "normal_pairs": normal_pairs,
        "ok": ok_planted
        and blob_pairs == blob_n - 1
        and normal_pairs >= 0.99 * planted_near,
    }


def quality(spark, root, n_docs=100_000):
    """Repetition signals and benchmark decontamination over a
    synthetic corpus with planted structure: every 100th doc is its
    30-token stem repeated 8x (must surface ``dup_5gram_frac`` > 0.5,
    and nothing else may), and the benchmark is the doc_id % 97 == 0
    slice of the corpus (exactly those docs must flag, at frac 1.0)."""
    from strava_etl_public_spark.operators import dedup
    from strava_etl_public_spark.operators import text as T

    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    n_words = (F.pmod(F.hash("doc_id"), 171) + 30).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.format_string("w%d", F.pmod(F.hash(F.col("doc_id"), i), 5000)),
    )
    stem = F.array_join(F.slice(words, 1, 30), " ")
    is_rep = (F.col("doc_id") % 100 == 0) & (F.col("doc_id") > 0)
    docs = cached(base.select(
        "doc_id",
        F.when(is_rep, F.array_join(F.array_repeat(stem, 8), " "))
        .otherwise(F.array_join(words, " "))
        .alias("text"),
    ).repartition(spark.sparkContext.defaultParallelism))
    n = docs.count()
    planted_rep = (n_docs - 1) // 100

    rep, t_rep = best(lambda: cached(T.repetition_features(docs, "doc_id", "text")))
    n_out = rep.count()
    hi = rep.filter(F.col("dup_5gram_frac") > 0.5)
    n_hi = hi.count()
    n_hi_planted = hi.filter(is_rep).count()

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    n_bench = bench.count()
    dec, t_dec = best(lambda: cached(
        dedup.decontaminate(docs, bench, "doc_id", "text", n=3, threshold=0.3)
    ))
    n_dec = dec.count()
    flagged = dec.filter(F.col("flagged"))
    n_flag = flagged.count()
    n_bench_flagged = flagged.filter(F.col("doc_id") % 97 == 0).count()
    exact_one = dec.filter(
        (F.col("doc_id") % 97 == 0) & (F.col("contamination_frac") == 1.0)
    ).count()
    for df in (dec, rep, docs):
        df.unpersist()
    # token streams are hash-unique per doc_id: nothing outside the
    # bench slice shares shingles with it, so any extra flag is a false
    # positive
    return {
        "docs": n,
        "repetition_s": round(t_rep, 1),
        "dup5_over_half": n_hi,
        "planted_repetitive": planted_rep,
        "decontaminate_s": round(t_dec, 1),
        "bench": n_bench,
        "flagged": n_flag,
        "bench_flagged": n_bench_flagged,
        "frac_one": exact_one,
        "ok": n_out == n
        and n_hi == n_hi_planted == planted_rep
        and n_dec == n
        and n_flag == n_bench_flagged == n_bench == exact_one,
    }


def cc(spark, root, n_chain_nodes=500_000):
    """``duplicate_clusters`` (distributed path) over a planted pair
    graph: chains of 8 nodes (diameter 7, the multi-round propagation
    case) plus one 50,000-member star (the hot-key component an LSH hot
    bucket produces). Every node must map to its component's min id."""
    from strava_etl_public_spark.operators.dedup import duplicate_clusters

    m, star_n = 8, 50_000
    star_base = n_chain_nodes + 1_000_000
    chain_pairs = (
        spark.range(n_chain_nodes)
        .filter((F.col("id") + 1) % m != 0)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    star_pairs = spark.range(1, star_n).select(
        F.lit(star_base).alias("doc_a"), (F.col("id") + star_base).alias("doc_b")
    )
    out, wall = best(lambda: cached(duplicate_clusters(
        chain_pairs.unionByName(star_pairs), max_iters=12, small_graph_edges=0
    )))
    n_rows = out.count()
    chain, star = F.col("doc_id") < n_chain_nodes, F.col("doc_id") >= star_base
    bad_chain = out.filter(
        chain & (F.col("rep_id") != (F.col("doc_id") - F.col("doc_id") % m))
    ).count()
    bad_star = out.filter(star & (F.col("rep_id") != star_base)).count()
    sizes_ok = (
        out.filter(chain & (F.col("cluster_size") != m)).count() == 0
        and out.filter(star & (F.col("cluster_size") != star_n)).count() == 0
    )
    out.unpersist()
    return {
        "nodes": n_rows,
        "wall_s": round(wall, 1),
        "nodes_per_s": int(n_rows / wall),
        "bad_chain": bad_chain,
        "bad_star": bad_star,
        "sizes_ok": sizes_ok,
        "ok": bad_chain == 0 and bad_star == 0 and sizes_ok,
    }


def incremental(spark, root, sf_dir=GEN_SF01, cpus=16):
    """Incremental dedup maintenance costs ~the batch, not the corpus.
    On a tier's documents (plus a planted near-dup, first word dropped,
    for every 7th doc) and batch shares 0.1 % / 1 % / 10 %: build the
    prior state once (``lsh_bucket_state`` + verified pairs of the
    corpus, persisted), then time a full recompute over corpus ∪ batch
    against ``incremental_minhash_clusters`` from the persisted state.
    Both cluster labelings must be identical. ``cpus`` sizes the
    session the CLI builds."""
    from strava_etl_public_spark.operators.dedup import (
        duplicate_clusters,
        incremental_minhash_clusters,
        lsh_bucket_state,
        minhash_lsh_dedup,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    docs = base.unionByName(planted)

    def labels(rows):
        return sorted((r["doc_id"], r["rep_id"]) for r in rows)

    shares = []
    for pm in (1, 10, 100):  # batch share in per-mille
        pred = (F.col("doc_id") % 1000) < pm
        corpus, batch = docs.filter(~pred), docs.filter(pred)
        state_path, pairs_path = f"{root}/state_{pm}", f"{root}/pairs_{pm}"

        def build_state():
            lsh_bucket_state(corpus, "doc_id", "text").write.parquet(state_path)
            minhash_lsh_dedup(corpus, "doc_id", "text").write.parquet(pairs_path)

        _, t_state = best(build_state)
        full, t_full = best(
            lambda: duplicate_clusters(minhash_lsh_dedup(docs, "doc_id", "text")).collect()
        )
        inc, t_inc = best(
            lambda: incremental_minhash_clusters(
                spark.read.parquet(state_path),
                spark.read.parquet(pairs_path),
                docs,
                batch,
                "doc_id",
                "text",
            ).collect()
        )
        shares.append({
            "batch_pct": pm / 10.0,
            "state_rows": spark.read.parquet(state_path).count(),
            "n_corpus": corpus.count(),
            "n_batch": batch.count(),
            "t_state_build_s": round(t_state, 2),
            "t_full_recompute_s": round(t_full, 2),
            "t_incremental_s": round(t_inc, 2),
            "speedup": round(t_full / t_inc, 2),
            "clusters": len({r["rep_id"] for r in full}),
            "identical": labels(inc) == labels(full),
        })
    return {
        "docs": docs.count(),
        "shares": shares,
        "ok": all(s["identical"] for s in shares),
    }


_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash join shuffle"),
    (2, "window sort order"),
    (3, "vector scan filter"),
]


def maintenance(spark, root, sf_dir=GEN_SF1):
    """Two incremental maintainers against their full recompute, on a
    tier's documents and events (best of 2: the first pandas pass pays
    Python-worker startup):

    1. BM25 index: corpus postings persisted once; a 1 % batch is
       tokenized alone and unioned in, vs ``bm25_from_index`` over a
       fresh ``build_postings`` of everything.
    2. EWMA: fold a ~1 % strictly-later batch from stored per-key state
       vs recomputing the whole series.

    Both incremental results must equal the full ones exactly."""
    from pyspark.sql import Window as W

    from strava_etl_public_spark.functions import epoch as ep
    from strava_etl_public_spark.operators import text as T
    from strava_etl_public_spark.operators.rolling import ewma_by_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 100 == 0)
    tc_c, dl_c = T.build_postings(docs.filter(F.col("doc_id") % 100 != 0), "doc_id", "text")
    tc_c.write.parquet(f"{root}/postings")
    dl_c.write.parquet(f"{root}/doclen")

    def bm25_incremental():
        tc_b, dl_b = T.build_postings(batch, "doc_id", "text")
        tc = spark.read.parquet(f"{root}/postings").unionByName(tc_b)
        dl = spark.read.parquet(f"{root}/doclen").unionByName(dl_b)
        return T.bm25_from_index(spark, tc, dl, "doc_id", _BM25_QUERIES, k=10).collect()

    def bm25_full():
        tc, dl = (cached(x) for x in T.build_postings(docs, "doc_id", "text"))
        try:
            return T.bm25_from_index(spark, tc, dl, "doc_id", _BM25_QUERIES, k=10).collect()
        finally:
            tc.unpersist()
            dl.unpersist()

    r_full, t_full = best(bm25_full, 2)
    r_inc, t_inc = best(bm25_incremental, 2)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_id", "ts", "value")
    ev = ev.withColumn("_ns", ep.epoch_ns(ev, "ts")).withColumn("_es", ep.epoch_s(ev, "ts")).drop("ts")
    cut = ev.approxQuantile("_es", [0.99], 0.001)[0]
    past = ev.filter(F.col("_es") < cut).drop("_es")
    new = ev.filter(F.col("_es") >= cut).drop("_es")
    order = ["_ns", "event_id"]
    w = W.partitionBy("user_id").orderBy(F.desc("_ns"), F.desc("event_id"))
    st = (
        ewma_by_key(past, ["user_id"], order, "value", 0.3, "_s")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("_s").alias("s0"))
        .localCheckpoint(eager=True)
    )
    r_fe, t_fe = best(
        lambda: ewma_by_key(ev.drop("_es"), ["user_id"], order, "value", 0.3, "_s")
        .join(new.select("event_id"), "event_id", "left_semi")
        .select("user_id", "event_id", "_s")
        .collect(),
        2,
    )
    r_ie, t_ie = best(
        lambda: ewma_by_key(new, ["user_id"], order, "value", 0.3, "_s", init_state=st)
        .select("user_id", "event_id", "_s")
        .collect(),
        2,
    )
    match = sorted(map(tuple, r_full)) == sorted(map(tuple, r_inc))
    match_e = sorted(map(tuple, r_fe)) == sorted(map(tuple, r_ie))
    return {
        "bm25_full_s": round(t_full, 2),
        "bm25_incremental_s": round(t_inc, 2),
        "bm25_speedup": round(t_full / max(t_inc, 1e-9), 1),
        "bm25_match": match,
        "ewma_full_s": round(t_fe, 2),
        "ewma_incremental_s": round(t_ie, 2),
        "ewma_speedup": round(t_fe / max(t_ie, 1e-9), 1),
        "ewma_match": match_e,
        "ewma_batch_rows": new.count(),
        "events": ev.count(),
        "ok": match and match_e,
    }


# ---- similarity ------------------------------------------------------


def ann(spark, root, n_vecs=200_000, n_queries=64):
    """IVF and multi-table LSH (the Arrow twins) at ~100x the fixture
    corpus: ``n_vecs`` dim-64 vectors generated on executors, a
    near-duplicate (cosine ~0.999, angular gap ~2.5 degrees) planted
    for every 200th. The first ``n_queries`` planted originals query
    the index; their twin is a known top-1 neighbor. IVF: 64 lists,
    2 Lloyd iterations, nprobe=4, recall >= 0.9, plus list-size balance.
    LSH: 5 planes x 12 tables, recall >= 0.95 (the OR-construction
    collision math predicts ~0.99+)."""
    from strava_etl_public_spark.operators import similarity

    dim, every = 64, 200

    def vec(noise):
        def at(d):
            v = F.xxhash64(F.col("id"), d).cast("double") / 9.223372036854776e18
            if noise:  # the planted twin: a tiny perturbation of its original
                v = v + F.xxhash64(F.col("id"), d + dim).cast("double") / 2.3058430092136938e20
            return v

        return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), at).alias("embedding")

    emb = cached(
        spark.range(n_vecs).select(F.col("id").alias("vec_id"), vec(False)).unionByName(
            spark.range(0, n_vecs, every).select((F.col("id") + n_vecs).alias("vec_id"), vec(True))
        )
    )
    n = emb.count()
    q_ids = [i * every for i in range(min(n_queries, n_vecs // every))]
    queries = emb.filter(F.col("vec_id").isin(q_ids)).select("vec_id")

    def twin_recall(topk) -> float:
        return topk.filter(F.col("n_id") == F.col("q_id") + n_vecs).count() / len(q_ids)

    ivf, t_ivf = best(lambda: cached(similarity.cosine_topk_ivf_arrow(
        emb, queries, "vec_id", "embedding", k=5, n_centroids=64, nprobe=4, refine_iters=2,
    )))
    cents = similarity.lloyd_refine(
        emb, similarity.seed_centroids(emb, "vec_id", "embedding", 64),
        "vec_id", "embedding", iters=2, arrow=True,
    )
    sizes = (
        similarity.ivf_assign_arrow(emb, cents, "vec_id", "embedding", nprobe=1)
        .groupBy("cent_id").count()
        .agg(F.min("count"), F.expr("percentile(count, 0.5)"), F.max("count"))
        .first()
    )
    lsh, t_lsh = best(lambda: cached(similarity.cosine_topk_lsh_arrow(
        emb, queries, "vec_id", "embedding", k=5, n_planes=5, dim=dim, n_tables=12,
    )))
    r_ivf, r_lsh = twin_recall(ivf), twin_recall(lsh)
    for df in (ivf, lsh, emb):
        df.unpersist()
    return {
        "corpus": n,
        "queried": len(q_ids),
        "ivf_s": round(t_ivf, 1),
        "ivf_twin_recall": round(r_ivf, 3),
        "ivf_list_sizes_min_med_max": [sizes[0], int(sizes[1]), sizes[2]],
        "lsh_s": round(t_lsh, 1),
        "lsh_twin_recall": round(r_lsh, 3),
        "ok": r_ivf >= 0.9 and r_lsh >= 0.95,
    }


def ann_tune(spark, root, sf_dir=DEFAULT_SF_DIR):
    """The ANN recall/cost sweep behind the shipped configs: recall vs
    the exact brute-force top-5 of 8 queries, and best-of-2 wall, for
    IVF over nprobe x train_fraction x refine_iters and LSH over
    n_tables. Within a family, probing more lists or tables only grows
    the candidate set, so recall must never drop."""
    from strava_etl_public_spark.io import load
    from strava_etl_public_spark.operators import similarity as S

    emb = cached(load(spark, sf_dir, "embeddings"))
    q_full = emb.orderBy("vec_id").limit(8)
    q = q_full.select("vec_id")
    truth = {
        tuple(r)
        for r in S.cosine_topk_brute_arrow(emb, q_full, "vec_id", "embedding", k=5)
        .select("q_id", "n_id").collect()
    }

    def ivf(nprobe, frac, iters):
        return lambda: S.cosine_topk_ivf_arrow(
            emb, q, "vec_id", "embedding", k=5, n_centroids=16,
            nprobe=nprobe, refine_iters=iters, train_fraction=frac,
        )

    def lsh(n_tables):
        return lambda: S.cosine_topk_lsh_arrow(
            emb, q, "vec_id", "embedding", k=5, n_planes=5, dim=64, n_tables=n_tables,
        )

    # each family lists configs by growing probe count
    families = [[(f"ivf nprobe={p} frac={f} iters=2", ivf(p, f, 2)) for p in (4, 6, 8)]
                for f in (1.0, 0.25)]
    families.append([("ivf nprobe=6 frac=0.25 iters=1", ivf(6, 0.25, 1))])
    families.append([(f"lsh tables={t} planes=5", lsh(t)) for t in (12, 16)])
    sweep, monotone = [], True
    for family in families:
        recalls = []
        for label, fn in family:
            got = {tuple(r) for r in fn().select("q_id", "n_id").collect()}  # also the warm-up
            _, secs = best(lambda: fn().write.format("noop").mode("overwrite").save(), 2)
            recalls.append(round(len(truth & got) / len(truth), 3))
            sweep.append({"config": label, "recall": recalls[-1], "sec": round(secs, 3)})
        monotone &= recalls == sorted(recalls)
    emb.unpersist()
    return {"sweep": sweep, "ok": monotone}


# ---- joins -----------------------------------------------------------


def rangejoin(spark, root, n_points=200_000, n_intervals=20_000):
    """Binned range join vs the naive BETWEEN join, and the 2D radius
    join. Binned: ``n_points`` points against ``n_intervals`` intervals
    of width <= 1000 over a 10^7 domain at full size; the naive
    theta-join (BroadcastNestedLoopJoin) runs on a 1/10 subsample of
    each side and is extrapolated x100. Both operators must agree on
    the subsample. Geo: 10 x ``n_points`` probes against 5 x
    ``n_intervals`` sites within 0.01 degree over a ±2-degree extent;
    the pair count must be within 3x of n_p·n_s·πr²/A."""
    from strava_etl_public_spark.operators.geo import radius_join_cells
    from strava_etl_public_spark.operators.rangejoin import range_join_binned

    span, iv_w = 10_000_000, 1_000
    pts = cached(spark.range(n_points).select(
        F.col("id").alias("p_id"), F.pmod(F.xxhash64("id", F.lit("p")), F.lit(span)).alias("p")
    ))
    iv = cached(
        spark.range(n_intervals)
        .select(
            F.col("id").alias("iv_id"),
            F.pmod(F.xxhash64("id", F.lit("lo")), F.lit(span - iv_w)).alias("lo"),
        )
        .withColumn("hi", F.col("lo") + 1 + F.pmod(F.xxhash64("iv_id", F.lit("w")), F.lit(iv_w)))
    )
    n_pairs, t_binned = best(lambda: range_join_binned(pts, iv, "p", "lo", "hi", bin_size=iv_w).count())
    sub_p, sub_i = pts.filter(F.col("p_id") % 10 == 0), iv.filter(F.col("iv_id") % 10 == 0)
    naive = sub_p.join(sub_i, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi")))
    n_naive, t_naive = best(naive.count)
    n_sub_binned = range_join_binned(sub_p, sub_i, "p", "lo", "hi", bin_size=iv_w).count()
    plan = naive._jdf.queryExecution().executedPlan().toString()
    pts.unpersist(), iv.unpersist()

    n_geo, n_sites, r = 10 * n_points, 5 * n_intervals, 10000  # r: 0.01 deg in μdeg

    def coord(salt):
        return (F.xxhash64("id", F.lit(salt)) % 2000001).cast("double") / 1000000.0

    probes = spark.range(n_geo).select(
        F.col("id").alias("pid"),
        ((F.xxhash64("id") % 2000001).cast("double") / 1000000.0).alias("pla"),
        coord(1).alias("plo"),
    )
    sites = spark.range(n_sites).select(F.col("id").alias("sid"), coord(2).alias("sla"), coord(3).alias("slo"))
    # sites is the small side: it takes the 9x neighborhood fan
    n_geo_pairs, t_geo = best(
        lambda: radius_join_cells(sites, probes, "sla", "slo", "pla", "plo", r).count()
    )
    # signed modulo: coordinates span (-2, 2) degrees, area 16e12 μdeg²
    expect = n_geo * n_sites * math.pi * r * r / 16e12
    return {
        "binned_pairs": n_pairs,
        "binned_s": round(t_binned, 2),
        "naive_sub_pairs": n_naive,
        "naive_sub_s": round(t_naive, 2),
        "naive_implied_full_s": round(t_naive * 100),
        "naive_over_binned": round(t_naive * 100 / t_binned),
        "naive_plan": "BroadcastNestedLoopJoin" if "BroadcastNestedLoopJoin" in plan else "other",
        "geo_pairs": n_geo_pairs,
        "geo_expected": int(expect),
        "geo_s": round(t_geo, 1),
        "ok": n_sub_binned == n_naive and expect / 3 < n_geo_pairs < expect * 3,
    }


# ---- table layer -----------------------------------------------------


def _dml_vs_rewrite(spark, root, n, dml, rewrite):
    """Per share {0.1 %, 1 %, 10 %} of users: ``dml(table, pred)`` on
    one table vs ``rewrite(df, pred)`` committed as a full copy on a
    twin, with bytes each version wrote and the read tax of each."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint
    from strava_etl_public_spark.operators.table import ManagedTable

    ev = write_events(spark, root, n)
    base = ev.select("event_id", "user_id", "event_type", F.col("ts").cast("long").alias("es"), "value")
    shares = []
    for label, mod in (("0.1%", 1000), ("1%", 100), ("10%", 10)):
        tables = []
        for name in ("t_dv", "t_rw"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            tables.append(ManagedTable.create(
                base.repartitionByRange(64, "es").sortWithinPartitions("es"),
                os.path.join(root, name), key="event_id", stat_cols=["es"],
            ))
        t_dv, t_rw = tables
        pred = F.col("user_id") % mod == 1
        v, dv_wall = best(lambda: dml(t_dv, pred))
        v_rw, rw_wall = best(lambda: t_rw._commit(rewrite(t_rw.read(), pred)))
        read_dv = best(lambda: t_dv.read().agg(F.sum("value"), F.count(F.lit(1))).collect())[1]
        read_rw = best(lambda: t_rw.read().agg(F.sum("value"), F.count(F.lit(1))).collect())[1]
        dv_bytes = dir_bytes(os.path.join(root, "t_dv", f"v{v}"))
        rw_bytes = dir_bytes(os.path.join(root, "t_rw", f"v{v_rw}"))
        # order-free content digest, minus the dataset name
        d_dv, d_rw = (tuple(dataset_fingerprint(t.read()).first())[1:] for t in tables)
        shares.append({
            "share": label,
            "rows": d_dv[0],
            "dv_wall_s": round(dv_wall, 2),
            "rewrite_wall_s": round(rw_wall, 2),
            "dv_bytes": dv_bytes,
            "rewrite_bytes": rw_bytes,
            "write_amplification_saved": round(rw_bytes / max(dv_bytes, 1), 1),
            "read_dv_s": round(read_dv, 2),
            "read_materialized_s": round(read_rw, 2),
            "equal": d_dv == d_rw,
        })
    return {"n_events": n, "shares": shares, "ok": all(s["equal"] for s in shares)}


def dv(spark, root, n_events=10_000_000):
    """DELETE cost ∝ deleted rows, never table volume: a deletion-vector
    delete (predicate scan + O(deleted) sidecar) vs the same delete as a
    full-copy commit, on ``n_events`` generated events. Records the
    write amplification saved and the merge-on-read tax of an
    aggregate over the DV-masked table."""
    res = _dml_vs_rewrite(
        spark, root, n_events,
        lambda t, pred: t.delete(pred),
        lambda df, pred: df.filter(~pred | pred.isNull()),
    )
    for s in res["shares"]:
        s["rows_deleted"] = n_events - s.pop("rows")
    return res


def update(spark, root, n_events=10_000_000):
    """Merge-on-read UPDATE cost ∝ updated rows: DV + appended row
    images vs a CASE WHEN rewrite of every row committed as a full
    copy, on ``n_events`` generated events. Both versions must hold the
    same rows (order-free digest)."""
    new_value = F.col("value") * 2 + 1
    res = _dml_vs_rewrite(
        spark, root, n_events,
        lambda t, pred: t.update(pred, {"value": new_value}),
        lambda df, pred: df.withColumn("value", F.when(pred, new_value).otherwise(F.col("value"))),
    )
    for s, mod in zip(res["shares"], (1000, 100, 10)):
        s.pop("rows")
        s["rows_updated"] = n_events // mod
        s["dv_update_wall_s"] = s.pop("dv_wall_s")
        s["read_merge_on_read_s"] = s.pop("read_dv_s")
    return res


def lineage_pq(spark, root, n_versions=100_000):
    """Commit-log lineage checkpoints at 10⁵ versions, JSON vs parquet:
    build wall, checkpoint bytes, load wall (``_read_lineage_ckpt``),
    and an as-of resolve to the chain's far end through
    ``ManagedTable._resolve_ts_version``, against the no-checkpoint full walk.
    Synthesized records; no Spark job. The checkpointed chain must
    equal the full chain, markers included."""
    from strava_etl_public_spark.operators import table_log
    from strava_etl_public_spark.operators.table import ManagedTable

    n = n_versions
    tdir = os.path.join(root, "t")
    cdir = os.path.join(tdir, "_commits")
    os.makedirs(os.path.join(tdir, f"v{n + 5}"))
    os.makedirs(cdir)

    def synth():
        # head sits a few records past the checkpointed version, as in
        # a live table: the walk reads the head segment per record, then
        # splices the checkpoint at n (cadence-aligned)
        hw = -1
        for v in range(1, n + 6):
            rec = {"version": v, "dataset": f"v{v}", "n_rows": 100, "xor_hash": v,
                   "sum_hash_mod": v, "parent": v - 1, "ts": 1000.0 + v}
            if v % 10 == 0:
                rec["txn"] = v // 10
                hw = max(hw, v // 10)
            rec["txn_hw"] = hw
            with open(os.path.join(cdir, f"{v}.json"), "w") as f:
                json.dump(rec, f)
        with open(os.path.join(tdir, "_latest"), "w") as f:
            f.write(str(n + 5))
        table_log.save_config(tdir, {"key": ["id"], "stat_cols": []})

    out = {"n_versions": n + 5, "synth_s": round(best(synth)[1], 2)}
    kdir = os.path.join(tdir, "_ckpts")
    t = ManagedTable.__new__(ManagedTable)
    t.spark, t.path = None, tdir

    def ms(fn, reps=5):
        return round(best(fn, reps)[1] * 1000, 2)

    def far_resolve():
        return t._resolve_ts_version(1000.0 + 10)

    out["full_walk_ms"] = ms(far_resolve, 2)
    exact = True
    for label, thresh in (("json", n + 1), ("parquet", 1)):
        shutil.rmtree(kdir, ignore_errors=True)
        old, table_log.LINEAGE_CKPT_PQ_THRESHOLD = table_log.LINEAGE_CKPT_PQ_THRESHOLD, thresh
        try:
            out[f"build_s_{label}"] = round(best(lambda: table_log._maybe_write_lineage_ckpt(tdir, n))[1], 2)
        finally:
            table_log.LINEAGE_CKPT_PQ_THRESHOLD = old
        files = os.listdir(kdir)
        out[f"ckpt_bytes_{label}"] = dir_bytes(os.path.join(kdir, files[0]))
        out[f"load_ms_{label}"] = ms(lambda: table_log._read_lineage_ckpt(kdir, n))
        out[f"resolve_far_ms_{label}"] = ms(far_resolve)
        chain = table_log._read_lineage_ckpt(kdir, n)
        exact &= (
            len(files) == 1
            and len(chain) == n
            and chain[0]["v"] == n
            and chain[-1]["v"] == 1
            and chain[n - 10]["txn"] == 1
        )
    return {**out, "ok": exact}


def manifest(spark, root, max_exp=6):
    """File-manifest representations, JSON (driver dict) vs parquet
    (distributed relation, Spark-filtered prune), at 10⁴ .. 10^max_exp
    file entries: serialization wall, manifest bytes, and the prune
    wall plus driver rows for a 1 %-selective range scan. The per-file
    stats are synthesized in ``stats_relation``'s output shape (10⁶
    real files are not buildable on one box); the aggregate feeding
    both representations is identical and excluded. Both must keep the
    same survivors."""
    from strava_etl_public_spark.operators.manifest import stats_survivors, write_stats_relation

    rows_per_file, points = 1000, []
    for exp in range(4, max_exp + 1):
        n = 10**exp
        stats = spark.range(n).select(
            F.format_string("part-%08d-c000.snappy.parquet", F.col("id")).alias("file"),
            (F.col("id") * rows_per_file).alias("min_k"),
            (F.col("id") * rows_per_file + rows_per_file - 1).alias("max_k"),
            F.lit(rows_per_file).alias("n_rows"),
        )
        domain = n * rows_per_file
        lo = int(domain * 0.42)
        hi = lo + domain // 100
        for fmt in ("json", "parquet"):
            vdir = os.path.join(root, f"man_{fmt}_{exp}")
            os.makedirs(vdir)
            _, build_s = best(lambda: write_stats_relation(vdir, stats, ["k"], fmt=fmt))
            size = dir_bytes(os.path.join(vdir, "_manifest_pq" if fmt == "parquet" else "_manifest.json"))
            (keep, total), prune_s = best(lambda: stats_survivors(spark, vdir, vdir, "k", lo, hi))
            points.append({
                "n_files": n,
                "fmt": fmt,
                "build_s": round(build_s, 3),
                "manifest_bytes": size,
                "prune_s": round(prune_s, 3),
                "survivors": len(keep),
                "files_total": total,
                # the JSON prune walks every entry; parquet collects survivors
                "driver_rows_materialized": total if fmt == "json" else len(keep),
            })
            shutil.rmtree(vdir)
    pairs = zip(points[::2], points[1::2])
    return {
        "points": points,
        "ok": all(j["survivors"] == p["survivors"] and j["files_total"] == p["files_total"] == j["n_files"]
                  for j, p in pairs),
    }


def sink(spark, root, n_events=2_000_000, n_batches=4):
    """The managed-table streaming sink's write path: ``n_events``
    streamed in ``n_batches`` micro-batches through
    ``writeStream.format("managed_table_sink")`` and through the
    JVM-native foreachBatch append sink, against a plain parquet
    writeStream of the same data (the floor: no digest, no commit
    protocol). Each table's recorded digest chain must equal a live
    fingerprint of what it holds."""
    from strava_etl_public_spark.operators.layout import dataset_fingerprint
    from strava_etl_public_spark.operators.table import ManagedTable
    from strava_etl_public_spark.sources.table_sink import register_table_sink
    from strava_etl_public_spark.streaming.ingest import table_append_sink_jvm

    register_table_sink(spark)
    src = os.path.join(root, "src")
    ev = write_events(spark, root, n_events).select("event_id", "user_id", "event_type")
    # one source file per micro-batch under maxFilesPerTrigger=1
    for i in range(n_batches):
        ev.filter(F.col("event_id") % n_batches == i).coalesce(4).write.mode("append").parquet(src)
    stream = spark.readStream.schema("event_id long, user_id long, event_type string").option(
        "maxFilesPerTrigger", 1
    )

    def drain(q):
        q.processAllAvailable()
        q.stop()

    def write_stream(fmt, name):
        return (
            stream.parquet(src).writeStream.format(fmt)
            .option("path", os.path.join(root, name))
            .option("checkpointLocation", os.path.join(root, f"ck_{name}"))
            .start()
        )

    def chain_exact(t):
        with open(os.path.join(t.path, "_commits", f"{t.version()}.json")) as f:
            rec = json.load(f)
        live = dataset_fingerprint(t.read()).first().asDict()
        return all(rec[c] == live[c] for c in ("n_rows", "xor_hash", "sum_hash_mod"))

    _, plain_wall = best(lambda: drain(write_stream("parquet", "plain")))
    seed = ev.filter(F.lit(False)).repartition(1)
    t = ManagedTable.create(seed, os.path.join(root, "t"), key="event_id")
    _, sink_wall = best(lambda: drain(write_stream("managed_table_sink", "t")))
    t_jvm = ManagedTable.create(seed, os.path.join(root, "t_jvm"), key="event_id")
    _, jvm_wall = best(lambda: drain(table_append_sink_jvm(
        stream.parquet(src), t_jvm.path, os.path.join(root, "ck_jvm")
    )))
    exact, jvm_exact = chain_exact(t), chain_exact(t_jvm)
    return {
        "n_events": n_events,
        "n_batches": n_batches,
        "plain_parquet_wall_s": round(plain_wall, 2),
        "managed_sink_wall_s": round(sink_wall, 2),
        "jvm_sink_wall_s": round(jvm_wall, 2),
        "overhead_x": round(sink_wall / max(plain_wall, 1e-9), 2),
        "overhead_jvm_x": round(jvm_wall / max(plain_wall, 1e-9), 2),
        "rows_per_s_sink": int(n_events / sink_wall),
        "rows_per_s_jvm": int(n_events / jvm_wall),
        "digest_chain_exact": exact,
        "jvm_digest_chain_exact": jvm_exact,
        "versions_committed": t.version() - 1,
        "ok": exact and jvm_exact,
    }


ENTRIES = {
    f.__name__: f
    for f in (
        pipeline, text, ann, quality, cc, rangejoin, maintenance, dv, update,
        incremental, lineage_pq, manifest, sink, ann_tune,
    )
}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in ENTRIES:
        print(__doc__, file=sys.stderr)
        return 2
    name, args = argv[0], argv[1:]
    params = list(inspect.signature(ENTRIES[name]).parameters.values())[2:]
    if len(args) > len(params):
        print(f"{name} takes at most {len(params)} sizes: {[p.name for p in params]}", file=sys.stderr)
        return 2
    sizes = {p.name: p.default for p in params}
    sizes.update({p.name: type(p.default)(a) for p, a in zip(params, args)})

    from strava_etl_public_spark.session import ensure_harness_conf, get_spark

    spark = get_spark(f"scale_{name}", cpus=sizes.get("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_harness_conf(spark)
    root = tempfile.mkdtemp(prefix=f"scale_{name}_")
    try:
        res = ENTRIES[name](spark, root, **sizes)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print(json.dumps({"entry": name, **sizes, **res}), flush=True)
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
