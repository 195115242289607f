"""Text-analysis operator unit tests (north-star extension)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strava_etl_public_spark.operators.text import (
    bm25_from_index,
    build_postings,
    lang_id,
    quality_features,
)


def _df(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1, len(texts) + 1), "text": texts})
    )


def test_lang_id(spark):
    df = _df(
        spark,
        [
            "the cat is on a mat of wool and straw",
            "le chat et la souris dans les champs des voisins",
            "el perro y los gatos que viven en las casas",
            "der hund und die katze das ist gut",
            "zzz qqq xxx",  # no stopword hits anywhere
        ],
    )
    out = df.select("doc_id", lang_id("text").alias("lang")).toPandas().set_index("doc_id")
    assert out.lang.tolist() == ["en", "fr", "es", "de", "und"]


def test_quality_features(spark):
    out = quality_features(
        _df(spark, ["the good text is here", ""]), "doc_id", "text"
    ).toPandas().set_index("doc_id")
    r = out.loc[1]
    assert r.n_tokens == 5 and r.stopword_hits == 2  # 'the', 'is'
    want = (5 / 100.0) * 0.4 + (2 / 5) * 0.3 + (17 / 21) * 0.3
    assert r.quality_score == pytest.approx(want, abs=1e-6)
    assert out.loc[2].quality_score == 0.0  # empty doc guard


def test_tf_idf(spark):
    from strava_etl_public_spark.operators.text import tf_idf

    out = tf_idf(
        _df(spark, ["apple banana apple", "banana cherry", "apple date"]),
        "doc_id",
        "text",
        k=2,
    ).toPandas()
    # doc1: apple tf=2/3 (df=2), banana tf=1/3 (df=2); apple ranks first
    d1 = out[out.doc_id == 1].sort_values("rk")
    assert d1.term.tolist() == ["apple", "banana"]
    import math

    want = (2 / 3) * (math.log(4 / 3) + 1.0)
    assert abs(d1.tf_idf.iloc[0] - round(want, 6)) < 1e-9
    # rarer term outranks common one at equal tf: doc3 'date' (df=1) > 'apple' (df=2)
    d3 = out[out.doc_id == 3].sort_values("rk")
    assert d3.term.tolist() == ["date", "apple"]


def test_repetition_features_known_values(spark):
    from strava_etl_public_spark.operators.text import repetition_features

    rows = [
        # 8 tokens, 'a' x4: top_token 4/8; top 2-gram 'a a' 3/7;
        # 5-grams: 4 total, all distinct -> dup 0
        {"doc_id": 0, "text": "a a a a b c d e"},
        # pure repetition: one token repeated 10x -> everything maximal
        {"doc_id": 1, "text": "x x x x x x x x x x"},
        # all-unique tokens -> top_token 1/6, dup_5gram 0
        {"doc_id": 2, "text": "one two three four five six"},
        # too short for 2- and 5-grams
        {"doc_id": 3, "text": "solo"},
        # no tokens at all
        {"doc_id": 4, "text": "...!!!"},
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_features(
            spark.createDataFrame(pd.DataFrame(rows)), "doc_id", "text"
        )
        .toPandas()
        .to_dict("records")
    }
    assert out[0]["n_tokens"] == 8
    assert out[0]["top_token_frac"] == 0.5
    assert out[0]["top_2gram_frac"] == round(3 / 7, 6)
    assert out[0]["dup_5gram_frac"] == 0.0
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["top_2gram_frac"] == 1.0
    # 6 five-grams, all 'x x x x x' -> 1 distinct -> dup 5/6
    assert out[1]["dup_5gram_frac"] == round(5 / 6, 6)
    assert out[2]["top_token_frac"] == round(1 / 6, 6)
    assert out[2]["dup_5gram_frac"] == 0.0
    assert out[3] == {
        "doc_id": 3, "n_tokens": 1, "top_token_frac": 1.0,
        "top_2gram_frac": 0.0, "dup_5gram_frac": 0.0,
    }
    assert out[4]["n_tokens"] == 0 and out[4]["top_token_frac"] == 0.0


def test_decontaminate_flags_overlap(spark):
    from strava_etl_public_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        pd.DataFrame(
            [
                # identical to the benchmark doc -> frac 1.0
                {"doc_id": 0, "text": "alpha beta gamma delta epsilon"},
                # shares a 3-token run with the benchmark
                {"doc_id": 1, "text": "zz alpha beta gamma yy ww vv uu"},
                # disjoint
                {"doc_id": 2, "text": "p q r s t u v w"},
                # too short for 3-grams
                {"doc_id": 3, "text": "xx yy"},
            ]
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame([{"doc_id": 100, "text": "alpha beta gamma delta epsilon"}])
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, "doc_id", "text", n=3, threshold=0.3)
        .toPandas()
        .to_dict("records")
    }
    assert out[0]["contamination_frac"] == 1.0 and out[0]["flagged"]
    # doc 1: 6 shingles, 1 overlapping ('alpha beta gamma') -> not flagged
    assert out[1]["n_shingles"] == 6 and out[1]["n_overlap"] == 1
    assert not out[1]["flagged"]
    assert out[2]["n_overlap"] == 0 and not out[2]["flagged"]
    assert out[3]["n_shingles"] == 0 and not out[3]["flagged"]


def _bm25(spark, docs, queries, k):
    """BM25 the way x_text_hybrid_retrieval scores it: a postings index
    from build_postings, ranked by bm25_from_index."""
    tc, dl = build_postings(docs, "doc_id", "text")
    return bm25_from_index(spark, tc, dl, "doc_id", queries, k=k)


def test_bm25_ranking_semantics(spark):
    """A document matching more query terms more often, at comparable
    length, must outrank one with a single glancing mention; docs with
    no query term never appear."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "hash join hash join build probe side",
                    "join once then filler words pad pad pad",
                    "totally unrelated content about nothing",
                    "hash table lookup words pad pad pad pad",
                ],
            }
        )
    )
    out = _bm25(spark, docs, [(1, "hash join")], k=10).toPandas()
    assert set(out.query_id) == {1}
    assert 3 not in set(out.doc_id)
    ranked = out.sort_values("rk").doc_id.tolist()
    assert ranked[0] == 1
    # rk is dense 1..n and follows (bm25 desc, doc_id) exactly
    assert ranked == out.sort_values(
        ["bm25", "doc_id"], ascending=[False, True]
    ).doc_id.tolist()
    by_doc = dict(zip(out.doc_id, out.n_terms_matched))
    assert by_doc[1] == 2 and by_doc[2] == 1 and by_doc[4] == 1


def test_bm25_partition_invariance(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = [(1, "hash join"), (2, "window sort")]
    a = _bm25(spark, docs, qs, k=5).toPandas()
    b = _bm25(spark, docs.repartition(13), qs, k=5).toPandas()
    key = ["query_id", "rk"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_hist_value_invariants(spark, sf_dir):
    from strava_etl_public_spark import queries as q

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = q.EXTRA_QUERIES["x_hist_value"](spark, sf_dir).toPandas()
    assert out.n.sum() == ev.count()
    assert out.bin.between(0, 19).all()
    # the global max value must land in the LAST bin (clamp check)
    mx = ev.agg(F.max("value")).first()[0]
    typ = ev.filter(F.col("value") == mx).first()["event_type"]
    assert 19 in set(out[out.event_type == typ].bin)


def test_bm25_shared_term_across_queries_keeps_true_df(spark):
    """A term appearing in two queries must not double its document
    frequency: scores for a single-term query must be identical
    whether or not another query shares the term (code-review
    regression)."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "hash join build",
                    "hash probe side",
                    "totally unrelated words",
                ],
            }
        )
    )
    alone = _bm25(spark, docs, [(1, "hash")], k=10).toPandas()
    shared = _bm25(spark, docs, [(1, "hash"), (2, "hash join")], k=10).toPandas()
    a = alone.set_index("doc_id").bm25
    s = shared[shared.query_id == 1].set_index("doc_id").bm25
    pd.testing.assert_series_equal(a.sort_index(), s.sort_index())


def test_dup_span_remove_rewrite(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.text import dup_span_remove

    docs = [
        (0, "alpha beta gamma delta"),    # span 'a b g' dup with doc 1 → drops toks 1-3
        (1, "alpha beta gamma epsilon"),  # same → keeps only 'epsilon'
        (2, "zeta eta theta iota"),       # unique spans → untouched
        (3, "xy"),                        # < n tokens → no spans, untouched
        (4, ""),                          # empty → present with 0 tokens
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = dup_span_remove(df, "doc_id", "text", n=3).toPandas().set_index("doc_id")
    assert len(out) == 5  # rewrite keeps every doc
    assert out.loc[0, "clean_text"] == "delta" and out.loc[0, "n_removed"] == 3
    assert out.loc[1, "clean_text"] == "epsilon"
    assert out.loc[2, "clean_text"] == "zeta eta theta iota"
    assert out.loc[2, "n_removed"] == 0 and out.loc[2, "removed_frac"] == 0.0
    assert out.loc[3, "clean_text"] == "xy"
    assert out.loc[4, "n_tokens"] == 0 and out.loc[4, "removed_frac"] == 0.0
    # partition-invariant: same rewrite regardless of input layout
    out7 = (
        dup_span_remove(df.repartition(7), "doc_id", "text", n=3)
        .toPandas()
        .set_index("doc_id")
        .loc[out.index]
    )
    assert (out7["clean_text"] == out["clean_text"]).all()


def test_encoding_quality_mojibake(spark):
    import pandas as pd

    from strava_etl_public_spark.operators.text import encoding_quality

    rows = pd.DataFrame(
        {
            "id": [0, 1, 2, 3],
            "text": [
                "clean ascii text.",
                "bad � decode � here",
                "ctrl\x01char\x1f and tab\tok",
                "",
            ],
        }
    )
    out = (
        encoding_quality(spark.createDataFrame(rows), "id", "text")
        .toPandas()
        .set_index("id")
    )
    assert bool(out.loc[0, "clean"]) and out.loc[0, "printable_ratio"] == 1.0
    assert out.loc[1, "n_replacement"] == 2 and not bool(out.loc[1, "clean"])
    assert out.loc[2, "n_ctrl"] == 2 and not bool(out.loc[2, "clean"])
    # tab/newline are NOT control noise; empty doc divides by max(n,1)
    assert out.loc[3, "n_chars"] == 0 and out.loc[3, "printable_ratio"] == 0.0
