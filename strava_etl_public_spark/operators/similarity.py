"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k is the exact baseline: broadcast the bounded
query set, ONE pass over the corpus, per-query top-k via window rank —
at 100 TB this is a map-side join + partial top-k, no corpus shuffle.

The scale path is hyperplane LSH: a 2^bits bucket code per vector from
deterministic pseudo-random planes (md5-derived, so results are stable
across runs/engines), equi-join queries to candidates on the bucket,
then exact cosine rerank. Bucketing is a pure projection; candidates
are bounded by bucket occupancy instead of corpus size.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine, dot


def cosine_topk_brute(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Rank on the ROUNDED cosine with id tie-break → deterministic and
    engine-portable ordering.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", F.sqrt(dot(F.col("q_vec"), F.col("q_vec"))))
    c = emb.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    ).withColumn("_nn", F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))))
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "cos",
        F.round(dot(F.col("q_vec"), F.col("n_vec")) / (F.col("_qn") * F.col("_nn")), 6),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def cosine_topk_brute_arrow(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Arrow/numpy twin of :func:`cosine_topk_brute` — the 100 TB hot
    path for dense vector math.

    The JVM fold (`zip_with` + `aggregate`) evaluates one expression
    node per element: measured ~23 µs per 64-dim cosine. Here each
    Arrow batch becomes one numpy matmul (C·Qᵀ after row-normalizing),
    ~0.1 µs/pair — two orders of magnitude — and emits only its
    per-batch top-k per query, so the shuffle into the global rank is
    |queries|·k rows per batch, not the scored cross product. Same
    partition-parallel shape as the JVM path: bounded query set
    broadcast (as a plain Python broadcast var), one pass over the
    corpus, partial top-k map-side, tiny global rank.

    Results match cosine_topk_brute up to FP summation order (cos
    rounded to 6 dp on both paths before ranking; id tie-break).
    """
    import numpy as np
    import pandas as pd

    q_pdf = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .toPandas()
    )
    spark = emb.sparkSession
    bq = spark.sparkContext.broadcast(
        (q_pdf["q_id"].to_numpy(), np.vstack(q_pdf["q_vec"].to_numpy()).astype("float64"))
    )

    def score_batches(batches):
        q_ids, Q = bq.value
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["n_id"].to_numpy()
            C = np.vstack(pdf["n_vec"].to_numpy()).astype("float64")
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            cos = np.round(Cn @ Qn.T, 6)  # (batch, nq)
            out = []
            for qi in range(len(q_ids)):
                col = cos[:, qi]
                mask = ids != q_ids[qi]  # self-match exclusion
                cand = np.nonzero(mask)[0]
                if not len(cand):
                    continue
                # partial top-k: keep k best by (cos desc, id asc)
                order = np.lexsort((ids[cand], -col[cand]))[:k]
                sel = cand[order]
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[qi],
                            "n_id": ids[sel],
                            "cos": col[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    partial = c.mapInPandas(score_batches, schema="q_id long, n_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def hyperplane_weights(n_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]: md5-derived,
    reproducible across runs, engines, and languages (no RNG state)."""
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / float(0x7FFFFFFF) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: F.Column, planes: list[list[float]]) -> F.Column:
    """2^n_planes bucket id: bit j = sign(vec · plane_j). A pure
    projection (zip_with + fold per plane) — whole-stage codegen, no
    shuffle, no UDF."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(w) for w in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, arr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0)).cast("long")
    return bucket


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine
    (IVF coarse quantization). ``centroids`` is (cent_id, cent_vec) —
    a bounded list (k ≪ corpus), so the join is a broadcast fan-out of
    k rows per vector followed by a per-vector top-nprobe — no corpus
    self-join anywhere.

    Deterministic tie-break on (cos desc, cent_id) keeps assignment
    stable across runs/engines. Norms are precomputed once per vector
    and per centroid (sqrt(dot(v,v)) — the identical doubles the
    inline cosine would produce, so round(cos, 6) is unchanged) instead
    of re-folding both self-dots for every (vector, centroid) pair:
    3x less expression work on the broadcast fan-out, measured ~2.5x
    on the sf0.1 IVF pipeline.
    """
    e = emb.withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
    c = centroids.withColumn("_cn", F.sqrt(dot(F.col("cent_vec"), F.col("cent_vec"))))
    scored = e.crossJoin(F.broadcast(c)).withColumn(
        "_cos",
        F.round(
            dot(F.col(vec_col), F.col("cent_vec")) / (F.col("_vn") * F.col("_cn")), 6
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col("cent_id"))
    return (
        scored.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= nprobe)
        .select(id_col, vec_col, "cent_id")
    )


def seed_centroids(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 16, stride: int = 37
) -> DataFrame:
    """Deterministic IVF 'training': the k corpus vectors whose id is
    the smallest in each residue class of ``id % (k*stride) == i*stride``
    — reproducible across engines with no RNG and no iterative k-means
    (Lloyd refinement drops in later without changing the interface).
    """
    w = Window.partitionBy("_grp").orderBy(F.col(id_col))
    return (
        emb.filter((F.col(id_col) % stride) == 0)
        .withColumn("_grp", F.floor((F.col(id_col) % (k * stride)) / stride))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_grp").cast("long").alias("cent_id"),
            F.col(vec_col).alias("cent_vec"),
        )
    )


def ivf_assign_arrow(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """Arrow/numpy twin of :func:`ivf_assign` — the 100 TB hot path.

    The JVM expression fold interprets ~dim ops per (vector, centroid)
    pair; here each Arrow batch is ONE matmul against the broadcast
    centroid matrix (k x dim, bounded — collected like any iterative-ML
    model state), then a vectorized top-nprobe per row. Same rounding
    (6 dp) and (cos desc, cent_id asc) tie-break; results can differ
    from the fold only if a cosine lands within FP-noise of a rounding
    boundary, so the oracle-gated query keeps the fold and the scale
    path uses this (scripts/scale.py ann: JVM fold 802 vecs/s at a 20k
    corpus; Arrow 4,482 vecs/s at 200k — 5.6x end-to-end on a 10x
    corpus, exact-matching the fold on the fixture).
    """
    import numpy as np
    import pandas as pd

    c_pdf = centroids.toPandas()
    spark = emb.sparkSession
    C = np.vstack(c_pdf["cent_vec"].to_numpy()).astype("float64")
    bc = spark.sparkContext.broadcast(
        (c_pdf["cent_id"].to_numpy(), C / np.linalg.norm(C, axis=1, keepdims=True))
    )

    def assign(batches):
        cent_ids, Cn = bc.value
        order_c = np.argsort(cent_ids)  # tie-break: smaller cent_id wins
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            En = E / np.linalg.norm(E, axis=1, keepdims=True)
            cos = np.round(En @ Cn.T, 6)  # (batch, k)
            # sort each row by (cos desc, cent_id asc): lexsort with
            # cent_id as the secondary (earlier) key
            idx = np.lexsort(
                (np.broadcast_to(cent_ids, cos.shape), -cos), axis=1
            )[:, :nprobe]
            reps = idx.shape[1]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), reps),
                    vec_col: [v for v in pdf[vec_col] for _ in range(reps)],
                    "cent_id": cent_ids[idx].ravel(),
                }
            )

    vec_type = dict(emb.dtypes)[vec_col]
    return emb.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} {vec_type}, cent_id long"
    )


def _assign_local_arrow(emb: DataFrame, model: dict, vec_col: str):
    """Nearest-centroid (nprobe=1) assignment against a DRIVER-HELD
    model — the inner loop of :func:`lloyd_refine`'s arrow path. Same
    math and tie-break as :func:`ivf_assign_arrow` (round(cos, 6),
    then cent_id asc), but the model ships as a plain broadcast
    variable instead of a centroids DataFrame, so an iteration costs
    zero extra Spark jobs beyond its assignment+means action. Emits
    only (cent_id, vec) — all the means agg needs.

    Returns ``(df, bc)`` — the caller must ``bc.unpersist()`` once the
    iteration's action completes, or each Lloyd pass leaks a centroid
    broadcast for the session lifetime (ADVICE r5)."""
    import numpy as np
    import pandas as pd

    cent_ids = np.asarray(sorted(model), dtype="int64")
    C = np.vstack([model[int(c)] for c in cent_ids]).astype("float64")
    bc = emb.sparkSession.sparkContext.broadcast(
        (cent_ids, C / np.linalg.norm(C, axis=1, keepdims=True))
    )

    def assign(batches):
        ids, Cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            En = E / np.linalg.norm(E, axis=1, keepdims=True)
            cos = np.round(En @ Cn.T, 6)
            best = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)[:, 0]
            yield pd.DataFrame({"cent_id": ids[best], vec_col: pdf[vec_col]})

    vec_type = dict(emb.dtypes)[vec_col]
    df = emb.select(vec_col).mapInPandas(
        assign, schema=f"cent_id long, {vec_col} {vec_type}"
    )
    return df, bc


def lloyd_refine(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    iters: int = 2,
    arrow: bool = False,
    tol: float = 0.0,
    train_fraction: float = 1.0,
    train_salt: str = "ivf-train",
) -> DataFrame:
    """Deterministic Lloyd (k-means) refinement of IVF centroids.

    Each iteration: assign every vector to its nearest centroid
    (cosine, the same deterministic tie-break as :func:`ivf_assign`),
    then recompute each centroid as the element-wise mean of its
    members. Means are **exact and engine-portable**: components sum
    as DECIMAL(27,12) (order-independent, identical in Spark and any
    SQL oracle) and the mean rounds to 6 dp — no FP summation-order
    drift can flip a downstream assignment. Empty clusters keep their
    previous centroid.

    Early stop: when an iteration moves no centroid component by more
    than ``tol``, remaining iterations are skipped — ``iters`` becomes
    a cap, so the build pays only for work that changes the model. The
    default ``tol=0.0`` is the exact fixed point and stays bit-parity
    with an oracle that unrolls all ``iters`` iterations: a
    zero-movement iteration reproduces its own input exactly (same
    centroids → same deterministic assignment → same decimal means),
    so the skipped tail is the identity. Any ``tol > 0`` trades that
    exactness guarantee for earlier stopping (still deterministic —
    the movement itself is computed on the 6-dp-rounded model).

    Scale shape per iteration: one broadcast fan-out (k rows per
    vector), one posexplode + (cent_id, pos) hash-agg — map-side
    partial combine makes the shuffle k·dim rows regardless of corpus
    size. The k·dim refined model is collected to the driver between
    iterations (bounded model state, the standard iterative-ML
    pattern — MLlib's KMeans does the same) so each iteration's plan
    stays flat instead of nesting lineage; the movement check reads
    that same collected model, costing nothing extra.

    ``train_fraction < 1`` trains on a deterministic hash-selected
    subset (the faiss train-on-sample recipe, made oracle-exact): the
    sample is a pure (salt, id) predicate — :func:`sketch.sample_by_hash`
    — so a SQL oracle replicates the exact training SET with the same
    WHERE clause, and the decimal-exact means over the sample stay
    engine-portable. At 100 TB this turns each Lloyd pass from a
    full-corpus scan into a sample-sized one (centroid quality needs a
    bounded number of training points per cluster, not the corpus), and
    the final full-corpus assignment remains the only complete pass.
    """
    spark = emb.sparkSession
    if train_fraction < 1.0:
        from .sketch import sample_by_hash

        emb = sample_by_hash(emb, id_col, train_fraction, salt=train_salt)
    seed_rows = centroids.select(
        "cent_id", F.transform("cent_vec", lambda x: x.cast("double")).alias("cent_vec")
    ).collect()
    prev = {int(r["cent_id"]): list(r["cent_vec"]) for r in seed_rows}
    dim = len(next(iter(prev.values())))
    # ONE Spark action per iteration (round-5 rework — the old form
    # added a second groupBy + a join + a per-iteration model-DataFrame
    # roundtrip on top of the means shuffle; at fixture scale that job
    # overhead WAS the build cost, measured ~1.8 s/iteration → ~1.0 s):
    # assignment feeds the posexplode + (cent_id, pos) decimal hash-agg
    # (map-side combined, k·dim cells regardless of corpus size), the
    # 6-dp-rounded means come back as the k·dim collected rows, and the
    # k-row model is assembled and held driver-side between iterations.
    for _ in range(iters):
        bc = None
        if arrow:
            assigned, bc = _assign_local_arrow(emb, prev, vec_col)
        else:
            cents = spark.createDataFrame(
                sorted(prev.items()), "cent_id long, cent_vec array<double>"
            )
            assigned = ivf_assign(emb, cents, id_col, vec_col, nprobe=1).select(
                "cent_id", vec_col
            )
        stats = (
            assigned.select("cent_id", F.posexplode(vec_col))
            .groupBy("cent_id", "pos")
            .agg(
                F.sum(F.col("col").cast("double").cast("decimal(27,12)")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                "cent_id",
                "pos",
                F.round(F.col("_s").cast("double") / F.col("_n"), 6).alias("m"),
            )
            .collect()
        )
        if bc is not None:  # iteration's action done — release the model
            bc.unpersist()
        new_means: dict[int, list] = {}
        for r in stats:
            new_means.setdefault(int(r["cent_id"]), [None] * dim)[int(r["pos"])] = r["m"]
        merged = {cid: new_means.get(cid, vec) for cid, vec in prev.items()}
        movement = max(
            (
                abs(a - b)
                for cid in merged
                for a, b in zip(merged[cid], prev[cid])
            ),
            default=0.0,
        )
        prev = merged
        if movement <= tol:
            break
    return spark.createDataFrame(
        sorted(prev.items()), "cent_id long, cent_vec array<double>"
    )


def cosine_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in ONE inverted list each
    (their nearest centroid); queries probe their ``nprobe`` nearest
    lists; exact cosine rerank inside the probed lists only.

    Scale shape: centroids are broadcast twice (corpus assign, query
    probe); candidate volume per query ≈ nprobe/n_centroids of the
    corpus; the only shuffle is the equi-join on cent_id, AQE-skew-safe
    when clusters are unbalanced. ``refine_iters`` Lloyd iterations
    (:func:`lloyd_refine`) tighten the lists around the seed sample —
    recall rises at fixed nprobe for the cost of one assign+agg pass
    per iteration at build time.
    """
    cents = seed_centroids(emb, id_col, vec_col, n_centroids)
    if refine_iters:
        cents = lloyd_refine(
            emb, cents, id_col, vec_col, iters=refine_iters,
            train_fraction=train_fraction,
        )
    corpus = ivf_assign(emb, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"), "cent_id"
    ).withColumn("_nn", F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))))
    probes = (
        ivf_assign(
            emb.join(queries.select(id_col), id_col, "left_semi"),
            cents,
            id_col,
            vec_col,
            nprobe=nprobe,
        )
        .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "cent_id")
        .withColumn("_qn", F.sqrt(dot(F.col("q_vec"), F.col("q_vec"))))
    )
    scored = (
        corpus.join(F.broadcast(probes), "cent_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec")) / (F.col("_qn") * F.col("_nn")), 6
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def cosine_topk_lsh_arrow(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 5,
    dim: int = 64,
    n_tables: int = 12,
) -> DataFrame:
    """Arrow/numpy twin of :func:`cosine_topk_lsh` — the bucket codes
    for ALL tables come from one matmul per Arrow batch against the
    stacked (n_tables*n_planes, dim) plane matrix, replacing
    n_tables*n_planes interpreted folds per vector (the measured
    dominant cost of the JVM path). sign(dot) can differ from the
    sequential fold only for dots within FP-noise of zero, so the
    oracle-gated query keeps the fold and the scale path uses this.

    Fused single-pass shape (r14, guide §4/§8 — the same rework as
    the IVF twin): the probe side is model-state-sized (|queries| ×
    n_tables bucket codes), so it is computed DRIVER-SIDE with the
    same matmul and shipped as a broadcast ``{(table, code) →
    probing-query rows}`` map. Each corpus batch then bucketizes,
    expands candidate pairs from the map in numpy (per-batch
    ``np.unique`` = the old global dropDuplicates, because every
    corpus row lives in exactly one batch), and reranks with the
    per-pair einsum — ONE corpus scan and ONE Python crossing,
    replacing the old bucketize pass + 12-rows/vector persisted bucket
    table + (table, bucket) join + dedup shuffle + vector re-join +
    second Python crossing. Per-pair arithmetic (einsum, per-row
    norms, round) is batch-composition-independent, so scores are
    bit-identical to the join-then-score shape."""
    import numpy as np
    import pandas as pd

    planes = np.vstack(
        [
            np.array(hyperplane_weights(n_planes, dim, seed=f"lsh{t}" if t else "lsh"))
            for t in range(n_tables)
        ]
    )  # (n_tables*n_planes, dim)
    bits = np.asarray([1 << j for j in range(n_planes)], dtype="int64")
    spark = emb.sparkSession

    q_pdf = (
        emb.join(queries.select(id_col), id_col, "left_semi")
        .select(id_col, vec_col)
        .toPandas()
    )
    probe_map: dict[tuple[int, int], "np.ndarray"] = {}
    if len(q_pdf):
        q_ids = q_pdf[id_col].to_numpy().astype("int64")
        Q = np.vstack(q_pdf[vec_col].to_numpy()).astype("float64")
        qn = np.linalg.norm(Q, axis=1)
        qsigns = (Q @ planes.T) > 0
        qcodes = (qsigns.reshape(len(Q), n_tables, n_planes) * bits).sum(axis=2)
        rows_by_bucket: dict[tuple[int, int], list[int]] = {}
        for r in range(len(q_ids)):
            for t in range(n_tables):
                rows_by_bucket.setdefault((t, int(qcodes[r, t])), []).append(r)
        probe_map = {
            key: np.asarray(v, dtype="int64") for key, v in rows_by_bucket.items()
        }
    else:
        q_ids = np.empty(0, dtype="int64")
        Q = np.empty((0, dim), dtype="float64")
        qn = np.empty(0, dtype="float64")
    bc = spark.sparkContext.broadcast((q_ids, Q, qn, probe_map, planes))

    def score(batches):
        bq_ids, bQ, bqn, bprobes, W = bc.value
        for pdf in batches:
            if not len(pdf) or not bprobes:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            n_ids = pdf[id_col].to_numpy()
            signs = (V @ W.T) > 0  # (batch, n_tables*n_planes)
            codes = (signs.reshape(len(V), n_tables, n_planes) * bits).sum(axis=2)
            norms = np.linalg.norm(V, axis=1)
            q_parts: list = []
            n_parts: list = []
            for t in range(n_tables):
                col = codes[:, t]
                for code in np.unique(col):
                    pr = bprobes.get((t, int(code)))
                    if pr is None:
                        continue
                    rn = np.nonzero(col == code)[0]
                    q_parts.append(np.repeat(pr, len(rn)))
                    n_parts.append(np.tile(rn, len(pr)))
            if not q_parts:
                continue
            pairs = np.unique(
                np.stack(
                    [np.concatenate(q_parts), np.concatenate(n_parts)], axis=1
                ),
                axis=0,
            )  # batch-local dedup == the old global dropDuplicates
            qrows, nrows = pairs[:, 0], pairs[:, 1]
            keep = bq_ids[qrows] != n_ids[nrows]
            qrows, nrows = qrows[keep], nrows[keep]
            if not len(qrows):
                continue
            cos = np.round(
                np.einsum("ij,ij->i", bQ[qrows], V[nrows])
                / (bqn[qrows] * norms[nrows]),
                6,
            )
            out = pd.DataFrame(
                {"q_id": bq_ids[qrows], "n_id": n_ids[nrows], "cos": cos}
            )
            yield (
                out.sort_values(["q_id", "cos", "n_id"], ascending=[True, False, True])
                .groupby("q_id", sort=False)
                .head(k)
            )

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, schema="q_id long, n_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    # |queries|*k rows: materialize so multi-consumer callers don't
    # re-run the corpus pass, then release the broadcast
    try:
        return (
            partial.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "cos", "rk")
            .localCheckpoint(eager=True)
        )
    finally:
        bc.unpersist()


def build_ivf_index_arrow(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    refine_iters: int = 2,
    train_fraction: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """The BUILD half of IVF ANN: ``(centroids, assigned corpus)``.

    At 100 TB the index is built once (seed + Lloyd passes + one
    corpus-assignment scan), persisted, and amortized over many probe
    batches — the probe half (:func:`cosine_topk_ivf_arrow` with these
    passed in) is the steady-state serving cost. bench.py times the
    two halves separately for exactly this reason.

    ``train_fraction < 1`` trains the Lloyd passes on a deterministic
    hash sample. The full-corpus assignment scan is the build's
    dominant cost at large k (835 s at 10⁷×4096, SCALE.md).

    The assigned corpus has schema ``(n_id, n_vec, cent_id)`` —
    hash-partitioned on ``cent_id`` by the downstream candidate join.
    """
    cents = seed_centroids(emb, id_col, vec_col, n_centroids)
    if refine_iters:
        cents = lloyd_refine(
            emb, cents, id_col, vec_col, iters=refine_iters, arrow=True,
            train_fraction=train_fraction,
        )
    assigned = ivf_assign_arrow(emb, cents, id_col, vec_col, nprobe=1)
    corpus = assigned.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"), "cent_id"
    )
    return cents, corpus


def cosine_topk_ivf_arrow(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 2,
    train_fraction: float = 1.0,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Arrow twin of :func:`cosine_topk_ivf` — matmul assignment and a
    vectorized einsum rerank inside the probed lists, fused into ONE
    corpus pass (r14, guide §4/§8: decide with small rows, cross the
    Python boundary once).

    The probe side is model-state-sized (|queries|·nprobe rows), so it
    is computed DRIVER-SIDE with the same numpy routine
    :func:`ivf_assign_arrow` runs per batch (same rounding, same
    (cos desc, cent_id) lexsort tie-break) and shipped to executors as
    a broadcast ``{cent_id → probing-query rows}`` map. Each corpus
    Arrow batch is then: one matmul against the broadcast centroid
    matrix (assignment — skipped when a prebuilt ``index`` already
    carries ``cent_id``), an in-numpy expansion of (query, neighbor)
    pairs from the probe map (replacing the JVM-side
    corpus⋈broadcast(probes) join and its second full-corpus Python
    round-trip), and the per-pair einsum rerank with a per-batch
    partial top-k. Per-pair arithmetic is row-wise (einsum + per-row
    norms + round) — batch-composition-independent, so scores are
    bit-identical to the former join-then-score shape; the final
    global top-k window is unchanged. The JVM twin stays the
    expression-fold witness; this is the 100 TB throughput path."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    if index is not None:
        cents, corpus = index  # pre-built: probe-only cost path
        scored_input = corpus.select("n_id", "n_vec", "cent_id")
        fuse_assign = False
    else:
        cents = seed_centroids(emb, id_col, vec_col, n_centroids)
        if refine_iters:
            cents = lloyd_refine(
                emb, cents, id_col, vec_col, iters=refine_iters, arrow=True,
                train_fraction=train_fraction,
            )
        # corpus assignment fuses into the scoring pass below — the
        # batches are the same scan batches ivf_assign_arrow saw, so
        # the assignment matmul shapes (hence values) are unchanged
        scored_input = emb.select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
        )
        fuse_assign = True

    c_pdf = cents.toPandas()
    cent_ids = c_pdf["cent_id"].to_numpy()
    C = np.vstack(c_pdf["cent_vec"].to_numpy()).astype("float64")
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    q_pdf = (
        emb.join(queries.select(id_col), id_col, "left_semi")
        .select(id_col, vec_col)
        .toPandas()
    )
    probe_map: dict[int, "np.ndarray"] = {}
    if len(q_pdf):
        q_ids = q_pdf[id_col].to_numpy().astype("int64")
        Q = np.vstack(q_pdf[vec_col].to_numpy()).astype("float64")
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        cos_qc = np.round(Qn @ Cn.T, 6)
        pidx = np.lexsort(
            (np.broadcast_to(cent_ids, cos_qc.shape), -cos_qc), axis=1
        )[:, :nprobe]
        rows_by_cent: dict[int, list[int]] = {}
        for r in range(len(q_ids)):
            for c in cent_ids[pidx[r]]:
                rows_by_cent.setdefault(int(c), []).append(r)
        probe_map = {
            c: np.asarray(v, dtype="int64") for c, v in rows_by_cent.items()
        }
    else:
        q_ids = np.empty(0, dtype="int64")
        Q = np.empty((0, Cn.shape[1]), dtype="float64")
    bc = spark.sparkContext.broadcast((q_ids, Q, probe_map, cent_ids, Cn))

    def score(batches):
        bq_ids, bQ, bprobes, bcent_ids, bCn = bc.value
        for pdf in batches:
            if not len(pdf) or not bprobes:
                continue
            N = np.vstack(pdf["n_vec"].to_numpy()).astype("float64")
            n_ids = pdf["n_id"].to_numpy()
            if fuse_assign:
                En = N / np.linalg.norm(N, axis=1, keepdims=True)
                cosb = np.round(En @ bCn.T, 6)
                aidx = np.lexsort(
                    (np.broadcast_to(bcent_ids, cosb.shape), -cosb), axis=1
                )[:, 0]
                cent_of_row = bcent_ids[aidx]
            else:
                cent_of_row = pdf["cent_id"].to_numpy()
            q_parts: list = []
            n_parts: list = []
            for c in np.unique(cent_of_row):
                pr = bprobes.get(int(c))
                if pr is None:
                    continue
                rn = np.nonzero(cent_of_row == c)[0]
                q_parts.append(np.repeat(pr, len(rn)))
                n_parts.append(np.tile(rn, len(pr)))
            if not q_parts:
                continue
            qrows = np.concatenate(q_parts)
            nrows = np.concatenate(n_parts)
            Qp = bQ[qrows]
            Np = N[nrows]
            cos = np.round(
                np.einsum("ij,ij->i", Qp, Np)
                / (np.linalg.norm(Qp, axis=1) * np.linalg.norm(Np, axis=1)),
                6,
            )
            out = pd.DataFrame(
                {"q_id": bq_ids[qrows], "n_id": n_ids[nrows], "cos": cos}
            )
            out = out[out["q_id"] != out["n_id"]]
            # partial top-k per query within the batch bounds the
            # shuffle into the global rank at |queries|*k rows/batch
            out = (
                out.sort_values(["q_id", "cos", "n_id"], ascending=[True, False, True])
                .groupby("q_id", sort=False)
                .head(k)
            )
            yield out

    partial = scored_input.mapInPandas(score, schema="q_id long, n_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def cosine_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k: bucket join + exact rerank. Recall < 1 by design;
    tests measure it against the brute-force baseline.

    ``n_tables`` is the standard OR-construction: each table hashes
    with an independent plane set; a corpus vector is a candidate if it
    collides with the query in ANY table. Recall rises ~geometrically
    with tables while cost stays sum-of-bucket-occupancies — the usual
    recall/cost dial at 100 TB (tables are a generator explode, so the
    corpus is still scanned once).
    """
    table_cols = []
    for t in range(n_tables):
        planes = hyperplane_weights(n_planes, dim, seed=f"lsh{t}" if t else "lsh")
        table_cols.append(
            F.struct(F.lit(t).alias("tbl"), lsh_bucket(F.col(vec_col), planes).alias("h"))
        )
    # norm once per vector, BEFORE the table explode — not per
    # candidate pair (3x fold saving, same doubles, same 6dp round).
    # Persisted: the corpus side and the query semi-join both consume
    # it, and the bucket codes (n_tables*n_planes interpreted folds per
    # vector — HOFs don't codegen) are the pipeline's dominant cost;
    # without the persist Spark computes them twice (measured 2x).
    from pyspark import StorageLevel

    bucketed = emb.withColumn(
        "_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    ).select(
        F.col(id_col), F.col(vec_col), "_vn", F.explode(F.array(*table_cols)).alias("_b")
    ).select(
        id_col, vec_col, "_vn", F.col("_b.tbl").alias("_tbl"), F.col("_b.h").alias("_bkt")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q = bucketed.join(
        queries.select(id_col), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.col("_vn").alias("_qn"), "_tbl", "_bkt",
    )
    c = bucketed.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        F.col("_vn").alias("_nn"), "_tbl", "_bkt",
    )
    cand = (
        c.join(F.broadcast(q), ["_tbl", "_bkt"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "q_vec", "_qn", "n_id", "n_vec", "_nn")
        .dropDuplicates(["q_id", "n_id"])  # OR across tables, score once
    )
    scored = cand.withColumn(
        "cos",
        F.round(dot(F.col("q_vec"), F.col("n_vec")) / (F.col("_qn") * F.col("_nn")), 6),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    # |queries|*k rows: materialize, then release the bucket cache
    try:
        return (
            scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select("q_id", "n_id", "cos", "rk")
            .localCheckpoint(eager=True)
        )
    finally:
        bucketed.unpersist()


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codebook compression + ADC scoring
# ---------------------------------------------------------------------------


def _l2_normalize(emb: DataFrame, vec_col: str) -> DataFrame:
    """Unit-norm every vector (element cast double / sqrt(self-dot))
    — one fixed expression tree, oracle-mirrored verbatim."""
    n = F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    return emb.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
    )


def _pq_slices(emb: DataFrame, id_col: str, vec_col: str, n_sub: int, d: int) -> DataFrame:
    """Explode each vector into its n_sub d-dim subvectors as rows
    ``(id, sub_id, sv)`` — ONE plan handles every subspace (the
    per-subspace loop becomes a dimension of the data, not S copies
    of the pipeline)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("sub_id"),
                F.slice(F.col(vec_col), s * d + 1, d).alias("sv"),
            )
            for s in range(n_sub)
        ]
    )
    return emb.select(F.col(id_col), F.explode(entries).alias("_e")).select(
        F.col(id_col), F.col("_e.sub_id").alias("sub_id"), F.col("_e.sv").alias("sv")
    )


def _pq_assign(sl: DataFrame, cb: DataFrame, id_col: str) -> DataFrame:
    """Nearest codebook entry per (vector, subspace) by squared L2 —
    expanded as ``dot(s,s) − 2·dot(s,c) + dot(c,c)`` so the self-dots
    fold once per row/centroid instead of per pair (the ivf_assign
    norm trick), rounded 6 dp with cent_id tie-break (deterministic,
    oracle-mirrored). The codebook is bounded (n_sub·n_cent rows) —
    broadcast fan-out, no shuffle of the corpus."""
    c = cb.withColumn("_cc", dot(F.col("cv"), F.col("cv")))
    s2 = sl.withColumn("_ss", dot(F.col("sv"), F.col("sv")))
    j = s2.join(F.broadcast(c), "sub_id").withColumn(
        "_l2",
        F.round(
            F.col("_ss") - F.lit(2.0) * dot(F.col("sv"), F.col("cv")) + F.col("_cc"),
            6,
        ),
    )
    w = Window.partitionBy(id_col, "sub_id").orderBy(F.col("_l2"), F.col("cent_id"))
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "sub_id", "sv", "cent_id")
    )


def pq_codebooks(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_sub: int = 8,
    dim: int = 64,
    n_cent: int = 16,
    stride: int = 37,
    refine_iters: int = 1,
) -> DataFrame:
    """Train PQ codebooks: per subspace, n_cent centroids over the
    corpus's d-dim subvectors — deterministic strided init (the
    seed_centroids recipe, the same picked ids in every subspace)
    plus Lloyd refinement with the DECIMAL(27,12) exact-mean trick,
    so the trained model is bit-identical to a SQL oracle.

    Returns ``(sub_id, cent_id, cv)`` — n_sub·n_cent rows of d doubles
    (the whole model is one bounded broadcast; for dim=64/8×16 it is
    128 tiny rows). At 100 TB PQ is the memory story: codes are
    n_sub bytes per vector vs 4·dim — 32× less to shuffle, cache, or
    serve than raw float32."""
    d = dim // n_sub
    sl = _pq_slices(emb, id_col, vec_col, n_sub, d)
    w = Window.partitionBy("sub_id", "_grp").orderBy(id_col)
    cb = (
        sl.filter((F.col(id_col) % stride) == 0)
        .withColumn("_grp", F.floor((F.col(id_col) % (n_cent * stride)) / stride))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "sub_id",
            F.col("_grp").cast("long").alias("cent_id"),
            F.transform(F.col("sv"), lambda x: x.cast("double")).alias("cv"),
        )
    )
    for _ in range(refine_iters):
        a = _pq_assign(sl, cb, id_col)
        means = (
            a.select("sub_id", "cent_id", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub_id", "cent_id", "pos")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("double").cast("decimal(27,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
        )
        newv = means.groupBy("sub_id", "cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("nv")
        )
        cb = (
            cb.join(newv, ["sub_id", "cent_id"], "left")
            .select(
                "sub_id",
                "cent_id",
                F.coalesce(F.col("nv"), F.col("cv")).alias("cv"),
            )
        )
    return cb


def pq_adc_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_queries: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    n_cent: int = 16,
    stride: int = 37,
    refine_iters: int = 1,
    rerank_r: int = 50,
) -> DataFrame:
    """Top-k by asymmetric distance computation over PQ codes: encode
    every corpus vector as n_sub centroid ids, build a per-query
    lookup table of exact ``dot(q_sub, centroid)`` parts (|q|·n_sub·
    n_cent rows — broadcast), and score each (query, neighbor) as the
    SUM of its parts — the inner product decomposes across subspaces,
    so query time never touches a raw corpus vector, only codes + a
    LUT (the ADC trick; 32× less data motion than the brute scan).

    Determinism: LUT parts round 6 dp, per-pair sums accumulate as
    DECIMAL(38,6) (order-free), final score rounds 6 dp, rank ties on
    n_id — the whole ranking hash-matches the SQL oracle. Query ids =
    first n_queries vec_ids (the IVF convention).

    Vectors are L2-NORMALIZED first (so the decomposed dot IS cosine)
    and the ADC ranking is a CANDIDATE GENERATOR: the top ``rerank_r``
    per query are re-scored with exact cosine on raw vectors (bounded:
    r vectors re-read per query) — the IVF-PQ+refine serving pattern.
    ADC distortion shuffles ranks WITHIN a tight cluster, so pure-ADC
    recall@5 measured only 0.225 on the clustered fixture; with the
    r=50 exact rerank the same codes reach high recall while query
    scans still touch codes + r raw rows, never the corpus."""
    emb = _l2_normalize(emb, vec_col)
    cb = pq_codebooks(emb, id_col, vec_col, n_sub, dim, n_cent, stride, refine_iters)
    codes = pq_encode(emb, id_col, vec_col, cb, n_sub=n_sub, dim=dim)
    return pq_adc_topk_from_index(
        emb, id_col, vec_col, cb, codes,
        k=k, n_queries=n_queries, n_sub=n_sub, dim=dim, rerank_r=rerank_r,
    )


def pq_encode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cb: DataFrame,
    n_sub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode vectors to PQ codes ``(n_id, sub_id, cent_id)`` under a
    FROZEN codebook — a pure per-vector function of ``cb`` (broadcast
    argmin over n_cent entries per subspace), so encoding a batch
    costs the batch, never the corpus, and codes of disjoint vector
    sets compose by plain UNION (the faiss add-after-train contract;
    test_pq_incremental_encode_equals_full_reencode pins merged ==
    full re-encode). ``emb`` must already be L2-normalized
    (:func:`_l2_normalize`)."""
    sl = _pq_slices(emb, id_col, vec_col, n_sub, dim // n_sub)
    return _pq_assign(sl, cb, id_col).select(
        F.col(id_col).alias("n_id"), "sub_id", "cent_id"
    )


def pq_adc_topk_from_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cb: DataFrame,
    codes: DataFrame,
    k: int = 5,
    n_queries: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    rerank_r: int = 50,
    routes: DataFrame | None = None,
) -> DataFrame:
    """The PQ SERVING path over a prebuilt index (codebooks + codes):
    per-query dot-product LUT (broadcast), decimal-summed ADC over
    codes, exact cosine rerank of the top ``rerank_r`` — split from
    :func:`pq_adc_topk` so an incrementally-maintained index (corpus
    codes persisted, batch encoded alone via :func:`pq_encode`)
    serves through literally the same plan as a from-scratch build.
    ``emb`` must already be L2-normalized.

    ``routes`` (optional, the IVF-PQ composition — :func:`ivfpq_topk`):
    a ``(q_id, n_id)`` allow-list of candidate pairs; when given, ADC
    scores only those pairs — the coarse quantizer's probe-list
    restriction, which at scale is the difference between scoring
    nprobe/n_lists of the corpus per query and scoring all of it."""
    d = dim // n_sub
    qids = emb.orderBy(id_col).limit(n_queries).select(F.col(id_col))
    qsl = _pq_slices(
        emb.join(qids, id_col, "left_semi"), id_col, vec_col, n_sub, d
    ).select(F.col(id_col).alias("q_id"), "sub_id", F.col("sv").alias("qv"))
    lut = qsl.join(F.broadcast(cb), "sub_id").select(
        "q_id",
        "sub_id",
        "cent_id",
        F.round(dot(F.col("qv"), F.col("cv")), 6).alias("part"),
    )
    pairs = codes.join(F.broadcast(lut), ["sub_id", "cent_id"]).filter(
        F.col("q_id") != F.col("n_id")
    )
    if routes is not None:
        pairs = pairs.join(routes, ["q_id", "n_id"])
    scored = (
        pairs.groupBy("q_id", "n_id")
        .agg(
            F.round(
                F.sum(F.col("part").cast("decimal(38,6)")).cast("double"), 6
            ).alias("adc")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("n_id"))
    cands = (
        scored.withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") <= rerank_r)
        .select("q_id", "n_id", "adc")
    )
    # exact rerank: raw (normalized) vectors only for the r candidates
    # per query — dot on unit vectors IS cosine
    nvec = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("_nv"))
    qvec = emb.join(qids, id_col, "left_semi").select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
    )
    exact = (
        cands.join(nvec, "n_id")
        .join(F.broadcast(qvec), "q_id")
        .withColumn("cos", F.round(dot(F.col("_qv"), F.col("_nv")), 6))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "adc", "cos", "rk")
    )


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_queries: int = 8,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters_ivf: int = 1,
    n_sub: int = 8,
    dim: int = 64,
    n_cent: int = 16,
    stride: int = 37,
    refine_iters_pq: int = 1,
    rerank_r: int = 50,
) -> DataFrame:
    """IVF-PQ: the production ANN index shape (faiss IndexIVFPQ) as a
    composition of the two separately-proven index families — the IVF
    coarse quantizer ROUTES each query to its ``nprobe`` nearest
    inverted lists, PQ codes SCORE the candidates by ADC without
    touching raw vectors, and the top ``rerank_r`` get the exact
    cosine rerank. At 10⁹ vectors this is the serving geometry that
    works: per query the scan touches nprobe/n_lists of the code
    table (codes are n_sub bytes/vector — 32× less data motion than
    float32), and raw vectors are read only for the r reranked rows.

    Composition contract: coarse assignment runs on RAW vectors
    (cosine normalizes internally — same lists as the plain IVF
    index), PQ trains/encodes on L2-NORMALIZED vectors (so the
    decomposed dot IS cosine) — each half is bit-identical to its
    standalone oracle-gated operator, and the joint ranking
    hash-matches the fused SQL oracle (x_sim_topk_ivfpq)."""
    cents, corpus_idx = build_ivf_index_arrow(
        emb, id_col, vec_col,
        n_centroids=n_centroids, refine_iters=refine_iters_ivf,
    )
    qids = emb.orderBy(id_col).limit(n_queries).select(id_col)
    probes = ivf_assign_arrow(
        emb.join(qids, id_col, "left_semi"), cents, id_col, vec_col,
        nprobe=nprobe,
    ).select(F.col(id_col).alias("q_id"), F.col("cent_id").alias("_ivf"))
    lists = corpus_idx.select("n_id", F.col("cent_id").alias("_ivf"))
    routes = probes.join(lists, "_ivf").select("q_id", "n_id")

    embn = _l2_normalize(emb, vec_col)
    cb = pq_codebooks(
        embn, id_col, vec_col, n_sub, dim, n_cent, stride, refine_iters_pq
    )
    codes = pq_encode(embn, id_col, vec_col, cb, n_sub=n_sub, dim=dim)
    return pq_adc_topk_from_index(
        embn, id_col, vec_col, cb, codes,
        k=k, n_queries=n_queries, n_sub=n_sub, dim=dim,
        rerank_r=rerank_r, routes=routes,
    )


def knn_join_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    k: int,
    max_block: int = 4096,
) -> DataFrame:
    """kNN JOIN: the k nearest neighbors (cosine) for EVERY point —
    the all-points face of the similarity family, next to the bounded
    query-set top-k (:func:`cosine_topk_brute`) and the threshold
    near-dup (dedup.embedding_near_dup). The workhorse of
    hard-negative mining, graph building for label propagation, and
    kNN classification over a full corpus.

    Candidates are DIRECTED pairs within a blocking key (LSH bucket
    from :func:`lsh_bucket`, a cluster id, or a label): per point the
    candidate set is its block, so pairwise work is Σ n_b² — bounded
    by ``max_block``·N, never corpus-wide N². Blocks above
    ``max_block`` degrade to a star around the block's minimum-id
    representative (members score only the rep; the rep scores all
    members) — same output schema, documented recall loss, no O(n²)
    cliff; re-block with a sharper key instead of raising the cap.
    Cosines round to 6dp BEFORE ranking (engine-portable); rank ties
    break on neighbor id, so the result is a pure function of the
    data and an exact SQL oracle reproduces it. Points in singleton
    blocks emit no rows (no neighbor evidence ≠ a wrong neighbor).

    Scale shape: one self-join keyed on the block (both sides prune
    to ≤ max_block rows per key), one per-point window for the top-k
    (shuffle keyed on id). At 10⁹ vectors with 2¹⁶ LSH buckets the
    per-block join is ~15k² cosines per bucket worst-case under the
    cap — embarrassingly parallel. ``emb`` feeds FOUR consumers (the
    size agg, both small-tier join legs, the hot-member scan) and
    Spark never dedupes common subtrees, so it is persisted here unless
    the caller already cached it; the (N·k)-row result is eagerly
    materialized as the ONE barrier so a cache made here releases on
    exit instead of relying on the caller (r14, guide §5 — the
    minhash_lsh_dedup cache-lifetime discipline). A cache the caller
    made is the caller's: it is neither re-persisted nor released."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from .dedup import cosine

    owns_cache = emb.storageLevel == StorageLevel.NONE
    if owns_cache:
        emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = emb.groupBy(block_col).agg(
        F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_min_id")
    )
    small = sizes.filter(F.col("_n") <= max_block).select(block_col)
    hot = sizes.filter(F.col("_n") > max_block).select(block_col, "_min_id")

    a = emb.join(small, block_col).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
    )
    b = emb.join(small, block_col).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("nv"),
    )
    pairs = a.join(b, "_blk").filter(F.col("q_id") != F.col("n_id"))

    # star tier for hot blocks: members ↔ representative, both directions
    hm = emb.join(hot, block_col)
    rep = hm.filter(F.col(id_col) == F.col("_min_id")).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("r_id"),
        F.col(vec_col).alias("rv"),
    )
    mem = hm.filter(F.col(id_col) != F.col("_min_id")).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("m_id"),
        F.col(vec_col).alias("mv"),
    )
    star = rep.join(mem, "_blk")
    star_pairs = star.select(
        "_blk",
        F.col("m_id").alias("q_id"), F.col("mv").alias("qv"),
        F.col("r_id").alias("n_id"), F.col("rv").alias("nv"),
    ).unionByName(
        star.select(
            "_blk",
            F.col("r_id").alias("q_id"), F.col("rv").alias("qv"),
            F.col("m_id").alias("n_id"), F.col("mv").alias("nv"),
        )
    )

    scored = pairs.unionByName(star_pairs).select(
        "q_id",
        "n_id",
        F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "n_id")
    out = (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        if owns_cache:
            emb.unpersist()


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label mean embedding (class centroids): one posexplode +
    hash agg per (label, dim) with 6dp-quantized DECIMAL sums — the
    Lloyd accumulation recipe applied to labeled data, so every
    centroid component is an exact integer sum finished by one IEEE
    division and the whole centroid table is oracle-checkable.
    Output: ``(label, centroid array<double>)`` — |labels|·dim rows of
    intermediate state, bounded model size at any corpus scale.
    Centroids are what SemDeDup-style semantic curation, per-class
    drift monitors, and cheap nearest-class-mean classifiers all
    start from."""
    d38 = "decimal(38,0)"
    ex = emb.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    per = ex.groupBy(label_col, "dim").agg(
        F.sum(F.round(F.col("x").cast("double") * 1000000, 0).cast(d38)).alias(
            "_s"
        ),
        F.count(F.lit(1)).alias("_c"),
    )
    comp = per.select(
        label_col,
        "dim",
        (
            F.col("_s").cast("double") / F.col("_c").cast("double") / F.lit(1000000.0)
        ).alias("c"),
    )
    return comp.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def covariance_matrix(
    emb: DataFrame, vec_col: str, chunk_rows: int = 1000
) -> DataFrame:
    """Exact d×d covariance of an embedding column — the whitening /
    PCA-input statistic — computed the way 100 TB requires: each Arrow
    batch contributes ONE d×d outer-product partial (numpy Qᵀ@Q over
    6dp-quantized int64 codes, chunked so no cell can overflow int64),
    partials hash-aggregate by (i, j) cell in DECIMAL(38,0), and the
    d(d+1)/2-cell upper triangle finishes with fixed-order double math.
    Data motion is d²·partitions cells — independent of row count; the
    naive pair-explode ships n·d² rows. Everything before the final
    division is exact integer arithmetic, so a SQL oracle doing the
    naive explode reproduces every cell bit-for-bit.

    Output: (i, j, cov) for 1-based i ≤ j, cov rounded to 6dp.
    """
    import numpy as np
    import pandas as pd

    def _round_half_away(x: "np.ndarray") -> "np.ndarray":
        # np.rint is half-even; the engines round half AWAY — match them
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Q = _round_half_away(M * 1000000.0)
            d = Q.shape[1]
            iu, ju = np.triu_indices(d)
            # int64 overflow guard: a cell accumulates ≤ chunk·qmax², and
            # numpy wraps silently — shrink the chunk so it can't
            # (code-review finding; the old comment's bound was wrong)
            qmax = int(np.abs(Q).max(initial=1))
            if qmax * qmax >= (1 << 62):
                # a SINGLE row's product already wraps int64 — no chunk
                # size can save it (ADVICE r6: the old clamp-to-1 hid
                # the wrap); |x| ≳ 2147 after 6dp quantization
                raise ValueError(
                    f"covariance_matrix: |quantized value| {qmax} too "
                    "large — a single product overflows int64; rescale "
                    "the embeddings first"
                )
            safe = max(1, int((1 << 62) // (qmax * qmax)))
            step = min(chunk_rows, safe)
            for s in range(0, len(Q), step):
                C = Q[s : s + step]
                P = C.T @ C
                lin = C.sum(axis=0)
                n = C.shape[0]
                yield pd.DataFrame(
                    {
                        "i": np.concatenate((iu + 1, np.arange(1, d + 1), [0])),
                        "j": np.concatenate((ju + 1, np.zeros(d, dtype=int), [0])),
                        "s": np.concatenate((P[iu, ju], lin, [n])),
                    }
                )

    parts = emb.select(vec_col).mapInPandas(_partials, schema="i int, j int, s long")
    # d²-row model state consumed by four filtered branches — checkpoint
    # so the corpus Arrow pass runs ONCE, not once per branch
    # (code-review finding: the filters push below the shuffle, so
    # ReuseExchange never fires)
    sums = parts.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("sv")
    ).localCheckpoint(eager=True)
    n1 = sums.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("sv").cast("long").alias("n")
    )
    lin = sums.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("k"), F.col("sv").alias("sk")
    )
    pairs = sums.filter((F.col("i") > 0) & (F.col("j") > 0))
    la = lin.select(F.col("k").alias("i"), F.col("sk").alias("si"))
    lb = lin.select(F.col("k").alias("j"), F.col("sk").alias("sj"))
    j = pairs.join(F.broadcast(la), "i").join(F.broadcast(lb), "j").crossJoin(
        F.broadcast(n1)
    )
    nd = F.col("n").cast("double")
    cov = (
        F.col("sv").cast("double") / nd
        - (F.col("si").cast("double") / nd) * (F.col("sj").cast("double") / nd)
    ) / F.lit(1000000000000.0)
    # + 0.0 canonicalizes IEEE negative zero: DuckDB's round keeps the
    # sign of a tiny negative, Spark's BigDecimal round does not —
    # without this a -0.0/-+0.0 split breaks row alignment in compares
    return j.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))


def random_projection(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    salt: str = "jl",
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    DETERMINISTIC ±1 projection matrix (sign of an md5 bit per (out
    dim, in dim) — no RNG, so the projection is a pure function of
    (salt, dims) and any engine reproduces it): out_j = Σ_i x_i·s_ji /
    √out_dim. With 6dp-quantized inputs the sums are exact integers;
    choose a square ``out_dim`` (√ exact) and even the scaling divides
    exactly. JL guarantees pairwise distances are preserved within
    ~1/√out_dim — the cheap pre-step that makes downstream
    ANN/clustering 4× narrower. Pure column math (the sign matrix
    unrolls into the plan as literals — out_dim·in_dim terms), no
    shuffle, scan speed. Emits (id, proj array<double>).

    ``in_dim`` should be passed explicitly where known — probing it
    from data costs a hidden driver action (a full upstream job) and
    fails opaquely on empty input (ADVICE r6)."""
    if in_dim is None:
        row = emb.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                "random_projection: cannot infer in_dim from an empty "
                "DataFrame — pass in_dim explicitly"
            )
        in_dim = len(row[0])
    import hashlib

    signs = [
        [
            1
            if int(
                hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()[:2], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]
    root = out_dim ** 0.5
    if int(root) ** 2 != out_dim:
        raise ValueError("out_dim must be a perfect square for exact scaling")
    xq = [
        F.round(F.element_at(F.col(vec_col), i + 1).cast("double") * 1000000, 0).cast(
            "long"
        )
        for i in range(in_dim)
    ]
    comps = []
    for j in range(out_dim):
        s = None
        for i in range(in_dim):
            term = xq[i] if signs[j][i] > 0 else -xq[i]
            s = term if s is None else s + term
        comps.append(
            (s.cast("double") / F.lit(1000000.0) / F.lit(float(int(root)))).alias(
                f"p{j}"
            )
        )
    return emb.select(F.col(id_col), F.array(*comps).alias("proj"))


def rrf_fuse(
    lists: "list[DataFrame]",
    q_col: str,
    id_col: str,
    rk_col: str,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of
    N ranked retrieval lists: score(q, d) = sum over lists of
    1/(c + rank_i(q, d)), missing entries contribute 0. The standard
    hybrid-retrieval combiner (keyword BM25 + dense cosine) — rank-
    based, so the two systems' incomparable score scales never touch.

    Each input carries (q_col, id_col, rk_col); the fold is a chain of
    (q, d) full-outer equi-joins — every input is a bounded top-K list
    (K rows per query), so the join state is queries*K rows per list,
    never corpus-sized. Contributions are summed in fixed list order
    (one expression tree -> bit-identical across engines) and rounded
    6dp; final rank breaks rrf ties by id. Output: one row per fused
    candidate with per-list ranks (NULL = not retrieved by that list),
    the fused score, and the fused rank (top-k per query).
    """
    from pyspark.sql import Window

    base = None
    for i, df in enumerate(lists):
        d = df.select(
            F.col(q_col).alias("q"),
            F.col(id_col).alias("d"),
            F.col(rk_col).cast("long").alias(f"rk_{i}"),
        )
        base = d if base is None else base.join(d, ["q", "d"], "full_outer")
    contrib = F.lit(0.0)
    for i in range(len(lists)):
        contrib = contrib + F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(f"rk_{i}")), F.lit(0.0)
        )
    scored = base.withColumn("rrf", F.round(contrib, 6))
    w = Window.partitionBy("q").orderBy(F.col("rrf").desc(), F.col("d"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            F.col("q").alias(q_col),
            F.col("d").alias(id_col),
            "rrf",
            *[F.col(f"rk_{i}") for i in range(len(lists))],
            "rk",
        )
    )
