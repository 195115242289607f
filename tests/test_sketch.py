"""md5 hash helpers: stable splits and samples, the bloom position
guard, and token-budget allocation invariants."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hash_split_stable_and_disjoint(spark, sf_dir):
    from strava_etl_public_spark.operators.sketch import hash_split, sample_by_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    s = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n  # disjoint + exhaustive
    assert counts.get("train", 0) > counts.get("val", 0)
    # stability: same assignment regardless of partitioning
    s2 = hash_split(docs.repartition(13), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).count() == 0
    # sample proportion within binomial noise; independent salts differ
    k = sample_by_hash(docs, "doc_id", 0.2).count()
    assert abs(k / n - 0.2) < 0.08
    ids1 = {r[0] for r in sample_by_hash(docs, "doc_id", 0.2).select("doc_id").collect()}
    ids2 = {r[0] for r in sample_by_hash(docs, "doc_id", 0.2, salt="other").select("doc_id").collect()}
    assert ids1 != ids2


def test_bloom_k_cap(spark):
    import pytest

    from strava_etl_public_spark.operators.sketch import _bloom_positions

    with pytest.raises(ValueError):
        _bloom_positions("key", m=1024, k=9)


def test_token_budget_allocate_invariants(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.sketch import token_budget_allocate

    rows = pd.DataFrame(
        {
            "id": range(40),
            "dom": ["a"] * 20 + ["b"] * 15 + ["c"] * 5,
            "nt": [(i * 7) % 13 + 1 for i in range(40)],
        }
    )
    df = spark.createDataFrame(rows)
    out = token_budget_allocate(df, "id", "dom", "nt", budget_tokens=100)
    pdf = out.toPandas()
    # every kept doc STARTS inside its domain budget; offsets are an
    # exclusive prefix sum, so per domain they are unique and start at 0
    for dom, g in pdf.groupby("domain"):
        starts = sorted(g["tok_start"])
        assert starts[0] == 0
        assert len(set(starts)) == len(starts)
    # deterministic under repartition
    pdf2 = (
        token_budget_allocate(df.repartition(7), "id", "dom", "nt", 100)
        .toPandas()
    )
    key = lambda p: sorted(map(tuple, p[["id", "domain", "tok_start"]].values))  # noqa: E731
    assert key(pdf) == key(pdf2)
    # a domain's kept token mass never exceeds budget + one doc's tail
    tok = dict(zip(rows["id"], rows["nt"]))
    bmax = max(tok.values())
    for dom, g in pdf.groupby("domain"):
        kept = sum(tok[i] for i in g["id"])
        assert kept <= 100 + bmax
