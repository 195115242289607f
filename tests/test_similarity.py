"""Similarity-search tests: brute-force exactness on known vectors and
LSH recall against the brute baseline on real fixture embeddings.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.io import load
from strava_etl_public_spark.operators.similarity import (
    cosine_topk_brute,
    cosine_topk_ivf,
    cosine_topk_lsh,
    hyperplane_weights,
    seed_centroids,
)


def test_brute_topk_known_vectors(spark):
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "v": [
                    [1.0, 0.0],
                    [0.9, 0.1],
                    [0.0, 1.0],
                    [-1.0, 0.0],
                ],
            }
        )
    )
    q = emb.filter(F.col("id") == 1)
    out = cosine_topk_brute(emb, q, "id", "v", k=3).toPandas().sort_values("rk")
    assert out.n_id.tolist() == [2, 3, 4]  # by descending cosine
    assert out.cos.tolist() == sorted(out.cos.tolist(), reverse=True)
    assert out.rk.tolist() == [1, 2, 3]


def test_hyperplanes_deterministic():
    a = hyperplane_weights(4, 8)
    b = hyperplane_weights(4, 8)
    assert a == b
    assert all(-1.0 <= w <= 1.0 for row in a for w in row)


@pytest.mark.slow
def test_ivf_recall_vs_brute(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    assert seed_centroids(emb, "vec_id", "embedding", 16).count() > 1
    queries = emb.orderBy("vec_id").limit(8).select("vec_id", "embedding")
    brute = cosine_topk_brute(emb, queries, "vec_id", "embedding", k=5).toPandas()
    ivf = cosine_topk_ivf(
        emb, queries.select("vec_id"), "vec_id", "embedding",
        k=5, n_centroids=16, nprobe=4,
    ).toPandas()
    truth = {tuple(r) for r in brute[["q_id", "n_id"]].itertuples(index=False)}
    got = {tuple(r) for r in ivf[["q_id", "n_id"]].itertuples(index=False)}
    recall = len(truth & got) / len(truth)
    # deterministic fixtures + RNG-free algorithm → recall is a
    # constant: exactly 0.600 here. Floor pinned just below so a real
    # regression (not noise — there is none) fails.
    assert recall >= 0.575, f"IVF recall {recall:.2f} too low"


@pytest.mark.slow
def test_ivf_lloyd_refinement_improves_recall(spark, sf_dir):
    """2 Lloyd iterations must not hurt recall at fixed nprobe; on a
    32-query panel (less noisy than 8) they improve it: measured
    0.48 seeded -> 0.58 (1 iter) -> 0.59 (2 iters) at sf0.01."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(32).select("vec_id", "embedding")
    brute = cosine_topk_brute(emb, queries, "vec_id", "embedding", k=5).toPandas()
    truth = {tuple(r) for r in brute[["q_id", "n_id"]].itertuples(index=False)}

    def recall(iters):
        ivf = cosine_topk_ivf(
            emb, queries.select("vec_id"), "vec_id", "embedding",
            k=5, n_centroids=16, nprobe=4, refine_iters=iters,
        ).toPandas()
        got = {tuple(r) for r in ivf[["q_id", "n_id"]].itertuples(index=False)}
        return len(truth & got) / len(truth)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, f"refinement regressed recall: {r0:.2f} -> {r2:.2f}"
    assert r2 >= 0.575, f"refined IVF recall {r2:.2f} too low"  # measured 0.59375, deterministic


def test_lloyd_early_stop_at_fixed_point(spark, monkeypatch):
    """On a corpus whose clusters converge after one mean update, the
    tol=0 fixed-point check must cut the loop: an iters=10 cap runs
    exactly 2 assignment passes (iter 1 moves the seeds to the true
    means; iter 2 reproduces them → movement 0 → stop) and returns the
    same model as iters=1 — skipping a zero-movement tail is the
    identity, so oracle parity survives the early exit."""
    from strava_etl_public_spark.operators import similarity as S

    # two tight, well-separated clusters around (1,0) and (0,1)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": list(range(6)),
                "v": [
                    [1.0, 0.0], [1.0, 0.02], [1.0, -0.02],
                    [0.0, 1.0], [0.02, 1.0], [-0.02, 1.0],
                ],
            }
        )
    )
    cents = spark.createDataFrame(
        pd.DataFrame({"cent_id": [0, 1], "cent_vec": [[1.0, 0.02], [0.02, 1.0]]})
    )
    calls = {"n": 0}
    real_assign = S.ivf_assign

    def counting_assign(*a, **kw):
        calls["n"] += 1
        return real_assign(*a, **kw)

    monkeypatch.setattr(S, "ivf_assign", counting_assign)
    capped = S.lloyd_refine(emb, cents, "id", "v", iters=10).toPandas()
    assert calls["n"] == 2, f"expected early stop after 2 passes, ran {calls['n']}"
    one = S.lloyd_refine(emb, cents, "id", "v", iters=1).toPandas()
    a = capped.sort_values("cent_id").reset_index(drop=True)
    b = one.sort_values("cent_id").reset_index(drop=True)
    assert a.cent_vec.map(list).tolist() == b.cent_vec.map(list).tolist()


@pytest.mark.slow
def test_lsh_recall_vs_brute(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    id_col, vec_col = "vec_id", "embedding"
    dim = len(emb.select(vec_col).first()[0])
    queries = emb.orderBy(id_col).limit(8).select(id_col, vec_col)
    brute = cosine_topk_brute(emb, queries, id_col, vec_col, k=5).toPandas()
    lsh = cosine_topk_lsh(
        emb, queries.select(id_col), id_col, vec_col,
        k=5, n_planes=4, dim=dim, n_tables=8,
    ).toPandas()
    truth = {tuple(r) for r in brute[["q_id", "n_id"]].itertuples(index=False)}
    got = {tuple(r) for r in lsh[["q_id", "n_id"]].itertuples(index=False)}
    recall = len(truth & got) / len(truth)
    # 4-plane × 8-table OR-construction: deterministic recall, exactly
    # 0.72 on this fixture (0.775 at sf0.01). Floor just below.
    assert recall >= 0.7, f"LSH recall {recall:.2f} too low"
    # everything LSH returns must be rank-consistent with exact cosine
    assert set(lsh.columns) == {"q_id", "n_id", "cos", "rk"}


def test_ivf_prebuilt_index_matches_inline_build(spark, sf_dir):
    """The bench's probe-only timing path: cosine_topk_ivf_arrow with a
    pre-built (centroids, assigned-corpus) index must return exactly
    the inline build+probe result — same params, same determinism."""
    from strava_etl_public_spark.operators.similarity import (
        build_ivf_index_arrow,
        cosine_topk_ivf_arrow,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(4).select("vec_id")
    kw = dict(k=3, nprobe=2)
    inline = (
        cosine_topk_ivf_arrow(
            emb, q, "vec_id", "embedding", n_centroids=8, refine_iters=1, **kw
        )
        .toPandas()
        .sort_values(["q_id", "rk"])
        .reset_index(drop=True)
    )
    index = build_ivf_index_arrow(
        emb, "vec_id", "embedding", n_centroids=8, refine_iters=1
    )
    prebuilt = (
        cosine_topk_ivf_arrow(emb, q, "vec_id", "embedding", index=index, **kw)
        .toPandas()
        .sort_values(["q_id", "rk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(inline, prebuilt)


@pytest.mark.slow
def test_shipped_ann_configs_recall_floor(spark, sf_dir):
    """Pytest twin of the bench recall gate (round-5 hardening — the
    r3 lesson, recall edition): the SHIPPED headline ANN configs (LSH
    4 planes x 12 tables; IVF nprobe=8, 1 Lloyd iteration) must hold
    the bench's 0.8 floor on the test fixture, so a regenerated
    embeddings fixture that silently degrades gate recall fails here
    before the driver bench does. Measured on the current fixture:
    LSH 0.875, IVF 0.825 (deterministic — no RNG anywhere)."""
    from strava_etl_public_spark.operators.similarity import (
        cosine_topk_brute_arrow,
        cosine_topk_ivf_arrow,
        cosine_topk_lsh_arrow,
    )

    emb = load(spark, sf_dir, "embeddings")
    q_ids = emb.orderBy("vec_id").limit(8).select("vec_id")
    q_full = emb.orderBy("vec_id").limit(8)
    truth = {
        tuple(r)
        for r in cosine_topk_brute_arrow(emb, q_full, "vec_id", "embedding", k=5)
        .select("q_id", "n_id")
        .collect()
    }
    got = {
        "lsh": {
            tuple(r)
            for r in cosine_topk_lsh_arrow(
                emb, q_full, "vec_id", "embedding", k=5, n_planes=4, dim=64,
                n_tables=12,
            ).select("q_id", "n_id").collect()
        },
        "ivf": {
            tuple(r)
            for r in cosine_topk_ivf_arrow(
                emb, q_ids, "vec_id", "embedding", k=5, n_centroids=16,
                nprobe=8, refine_iters=1,
            ).select("q_id", "n_id").collect()
        },
    }
    for name, pairs in got.items():
        recall = len(truth & pairs) / len(truth)
        assert recall >= 0.8, f"{name} shipped-config recall {recall:.3f} < 0.8"


@pytest.mark.slow
def test_pq_adc_recall_and_determinism(spark, sf_dir):
    """PQ+rerank recall vs brute cosine, model size bound, and
    partition invariance of the full ranking."""
    from strava_etl_public_spark.operators.similarity import (
        cosine_topk_brute,
        pq_adc_topk,
        pq_codebooks,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, "vec_id", "embedding", n_sub=8, dim=64, n_cent=16)
    # bounded model: at most n_sub*n_cent rows, every vector 8 doubles
    assert cb.count() <= 8 * 16
    assert cb.select(F.size("cv")).distinct().first()[0] == 8

    pq = pq_adc_topk(
        emb, "vec_id", "embedding", k=5, refine_iters=2, rerank_r=100
    ).toPandas()
    queries = emb.orderBy("vec_id").limit(8).select("vec_id", "embedding")
    brute = cosine_topk_brute(emb, queries, "vec_id", "embedding", k=5).toPandas()
    truth = {tuple(r) for r in brute[["q_id", "n_id"]].itertuples(index=False)}
    got = {tuple(r) for r in pq[["q_id", "n_id"]].itertuples(index=False)}
    recall = len(truth & got) / len(truth)
    # deterministic fixtures + RNG-free training → exactly 0.800 here;
    # floor pinned just below
    assert recall >= 0.775, f"PQ recall {recall:.2f} too low"

    again = (
        pq_adc_topk(
            emb.repartition(13), "vec_id", "embedding", k=5,
            refine_iters=2, rerank_r=100,
        )
        .toPandas()
        .sort_values(["q_id", "rk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        pq.sort_values(["q_id", "rk"]).reset_index(drop=True), again
    )


def test_covariance_matrix_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from strava_etl_public_spark.operators.similarity import covariance_matrix

    rng = np.random.RandomState(9)
    M = rng.normal(0, 2, (300, 5))
    df = spark.createDataFrame(
        pd.DataFrame({"embedding": [row.tolist() for row in M]})
    )
    out = covariance_matrix(df, "embedding", chunk_rows=64).toPandas()
    # quantized ground truth (the operator's contract is 6dp-quantized
    # inputs, exact integer sums, population covariance)
    Q = np.sign(M * 1e6) * np.floor(np.abs(M * 1e6) + 0.5)
    C = (Q.T @ Q) / len(Q) - np.outer(Q.mean(axis=0), Q.mean(axis=0))
    for r in out.itertuples():
        want = C[r.i - 1, r.j - 1] / 1e12
        assert abs(r.cov - want) < 2e-6, (r.i, r.j)
    assert len(out) == 5 * 6 // 2
    # partition invariance (exact integer partials)
    out2 = covariance_matrix(df.repartition(7), "embedding", chunk_rows=64).toPandas()
    a = out.sort_values(["i", "j"]).reset_index(drop=True)
    b = out2.sort_values(["i", "j"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_random_projection_preserves_distances(spark):
    import numpy as np
    import pandas as pd

    from strava_etl_public_spark.operators.similarity import random_projection

    rng = np.random.RandomState(6)
    M = rng.normal(0, 1, (40, 64)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(40), "embedding": [r.tolist() for r in M]})
    )
    proj = random_projection(df, "id", "embedding", out_dim=16).toPandas()
    P = np.stack([np.array(p) for p in proj.sort_values("id").proj])
    # JL: squared-distance ratios concentrate around 1 with sd ~ sqrt(2/k)
    ratios = []
    for i in range(0, 40, 3):
        for j in range(i + 1, 40, 7):
            od = ((M[i].astype(float) - M[j]) ** 2).sum()
            pdist = ((P[i] - P[j]) ** 2).sum()
            ratios.append(pdist / od)
    r = np.array(ratios)
    assert 0.8 < r.mean() < 1.2
    assert (np.abs(r - 1) < 1.5).all()
    # deterministic: same salt → identical projection
    proj2 = random_projection(
        df.repartition(5), "id", "embedding", out_dim=16
    ).toPandas()
    P2 = np.stack([np.array(p) for p in proj2.sort_values("id").proj])
    assert np.array_equal(P, P2)


def test_knn_join_blocked_star_guard_and_exactness(spark):
    """Small-block exactness vs a per-block brute force, plus the
    hot-block star degradation contract (members pair only with the
    min-id representative, both directions, schema unchanged)."""
    import numpy as np
    import pandas as pd

    from strava_etl_public_spark.operators.similarity import knn_join_blocked

    rng = np.random.RandomState(7)
    rows = []
    # two small blocks (5 + 4) and one hot block (9 members, cap 6)
    for i in range(5):
        rows.append((i, "a", rng.randn(8).round(3).tolist()))
    for i in range(5, 9):
        rows.append((i, "b", rng.randn(8).round(3).tolist()))
    for i in range(9, 18):
        rows.append((i, "hot", rng.randn(8).round(3).tolist()))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "blk", "v"])
    )
    out = knn_join_blocked(df, "id", "v", "blk", k=3, max_block=6).toPandas()

    # exact per-block reference for the small blocks
    vecs = {i: np.array(v) for i, _, v in rows}
    blocks = {"a": range(5), "b": range(5, 9)}
    for blk, ids in blocks.items():
        for q in ids:
            cands = [
                (round(float(
                    vecs[q] @ vecs[n]
                    / (np.linalg.norm(vecs[q]) * np.linalg.norm(vecs[n]))
                ), 6), n)
                for n in ids if n != q
            ]
            want = sorted(cands, key=lambda t: (-t[0], t[1]))[:3]
            got = out[out.q_id == q].sort_values("rk")
            assert [(c, n) for c, n in zip(got.cos, got.n_id)] == want
    # hot block: min-id rep is 9; members only ever see 9 as neighbor
    hot = out[(out.q_id >= 9) & (out.q_id != 9)]
    assert set(hot.n_id) == {9}
    # the rep ranks its members normally (up to k)
    assert len(out[out.q_id == 9]) == 3


def test_rrf_fuse_semantics(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        pd.DataFrame(
            {"q": [1, 1, 1], "d": [10, 11, 12], "rk": [1, 2, 3]}
        )
    )
    b = spark.createDataFrame(
        pd.DataFrame({"q": [1, 1], "d": [12, 13], "rk": [1, 2]})
    )
    out = {
        r["d"]: (r["rrf"], r["rk_0"], r["rk_1"], r["rk"])
        for r in rrf_fuse([a, b], "q", "d", "rk", k=10).collect()
    }
    # d=12 appears in both lists: 1/63 + 1/61
    assert out[12][0] == round(1 / 63 + 1 / 61, 6) and out[12][3] == 1
    # one-list docs contribute only their own term; NULL for the other
    assert out[10] == (round(1 / 61, 6), 1, None, 2)
    assert out[13][1] is None and out[13][2] == 2
    # tie between d=11 (1/62) vs nothing else; d=13 (1/62) — equal rrf
    # scores break by doc id: 11 before 13
    assert out[11][0] == out[13][0] == round(1 / 62, 6)
    assert out[11][3] == 3 and out[13][3] == 4


def test_pq_incremental_encode_equals_full_reencode(spark, sf_dir):
    """The add-after-train proof (round 9): encoding is a pure
    per-vector function of the frozen codebooks, so corpus codes ∪
    batch codes must be ROW-IDENTICAL to one encode pass over the
    union — the property that makes per-batch PQ maintenance cost the
    batch instead of the corpus."""
    from strava_etl_public_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(400)
    embn = S._l2_normalize(emb, "embedding")
    corpus = embn.filter(F.col("vec_id") % 5 != 0)
    batch = embn.filter(F.col("vec_id") % 5 == 0)
    cb = S.pq_codebooks(
        corpus, "vec_id", "embedding", n_sub=8, dim=64, n_cent=16,
        stride=37, refine_iters=1,
    )
    merged = (
        S.pq_encode(corpus, "vec_id", "embedding", cb)
        .unionByName(S.pq_encode(batch, "vec_id", "embedding", cb))
    )
    full = S.pq_encode(embn, "vec_id", "embedding", cb)
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in full.collect())
    assert a == b and len(a) == 400 * 8


def test_knn_join_blocked_releases_input_cache(spark):
    """r14 (r13 verdict #7): knn_join_blocked persists its 4-consumer
    input internally; the eager result barrier must release that cache
    on exit instead of leaking it for the session lifetime. A cache the
    caller made before the call is the caller's and must survive it."""
    import numpy as np
    from pyspark import StorageLevel

    from strava_etl_public_spark.operators.similarity import knn_join_blocked

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 8)], int(i % 3)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>, blk long")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = knn_join_blocked(df, "id", "v", "blk", k=3)
    assert out.count() > 0
    after = jsc.getPersistentRDDs().size()
    # +1: the result's own localCheckpoint blocks; the input cache
    # must be gone
    assert after - before <= 1

    cached = df.persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    assert knn_join_blocked(cached, "id", "v", "blk", k=3).count() == out.count()
    assert cached.storageLevel == StorageLevel.MEMORY_ONLY
    cached.unpersist()
