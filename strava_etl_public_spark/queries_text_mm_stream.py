"""Text analysis, multimodal plumbing, Structured Streaming.

Split from the former single-file queries_ext.py (round 7, verdict
#7): registrations, names, and oracle SQL are unchanged — the
aggregator queries_ext.py imports the family modules in the original
registration order. Shared oracle fragments live in queries_common.
"""

from __future__ import annotations

import uuid  # noqa: F401  (shared header across family modules)

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import Window as W  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .functions import epoch as ep  # noqa: F401
from .io import load  # noqa: F401
from .session import ensure_harness_conf  # noqa: F401
from .queries_common import register, register_extra, streams  # noqa: F401
from .operators import dedup, multimodal, similarity, text  # noqa: F401
from .queries_common import _TK_SQL  # noqa: F401


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    scores = {
        lang: f"len(list_filter(t, x -> x IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in text.LANG_PROFILES.items()
    }
    best = "greatest(" + ", ".join(f"s_{l}" for l in text.LANG_PROFILES) + ")"
    cases = " ".join(
        f"WHEN s_{l} > 0 AND s_{l} = {best} THEN '{l}'" for l in text.LANG_PROFILES
    )
    score_cols = ", ".join(f"{expr} AS s_{l}" for l, expr in scores.items())
    return f"""
WITH tk AS ({_TK_SQL}),
s AS (SELECT doc_id, {score_cols} FROM tk)
SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_pred FROM s
"""


@register("x_text_lang_id", oracle=_lang_oracle())
def x_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by stopword-profile argmax (fixed tie order
    en>fr>es>de, 'und' when nothing matches) — a scan-speed projection."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dedup.tokens("text").alias("_toks"))
    return toks.select(
        "doc_id", text.lang_id("_toks", toks=F.col("_toks")).alias("lang_pred")
    )


_EN = ", ".join(repr(w) for w in text.LANG_PROFILES["en"])

_QUALITY_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS n_tok,
         length(text) AS nc,
         len(list_filter(regexp_extract_all(lower(text), '[a-z0-9_]+'),
                         x -> x IN ({_EN}))) AS stop_hits,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(nc AS BIGINT) AS n_chars_obs,
       CAST(stop_hits AS BIGINT) AS stopword_hits,
       round(CASE WHEN n_tok = 0 THEN 0.0 ELSE
         least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.4
         + (CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 0.3
         + (CAST(alpha AS DOUBLE) / CAST(nc AS DOUBLE)) * 0.3
       END, 6) AS quality_score
FROM f
"""


@register("x_text_quality", oracle=_QUALITY_ORACLE)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/punctuation quality features + composite score."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    return text.quality_features(docs, "doc_id", "text")


@register_extra(
    "w1_rolling_triang_pandas_udf",
    oracle="""
WITH s AS (
SELECT user_id AS activity_id,
       CAST(SUM(1 + event_id % 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS time_key,
       value, event_type, event_id
FROM events
),
r AS (
  SELECT activity_id,
         (1*lag(value,4) OVER w + 2*lag(value,3) OVER w + 3*lag(value,2) OVER w
          + 2*lag(value,1) OVER w + 1*value) / 9.0 AS tri5
  FROM s WINDOW w AS (PARTITION BY activity_id ORDER BY time_key)
)
SELECT activity_id,
       round(max(tri5), 6) AS max_tri5,
       CAST(count(tri5) AS BIGINT) AS n_windows
FROM r GROUP BY activity_id
""",
)
def w1_rolling_triang_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship W1 computation through the §2.J Arrow grouped-map
    path (``applyInPandas`` running the numpy triangular oracle per
    activity) instead of the box-composition window expressions — the
    differential check that the UDF surface and the JVM surface agree
    with a THIRD independent implementation (DuckDB lag-arithmetic)."""
    ensure_harness_conf(spark)
    from .operators import rolling

    s = streams(spark, sf_dir)
    r = rolling.rolling_mean_triang_pandas(s, "activity_id", "time_key", ["value"], [5])
    return r.groupBy("activity_id").agg(
        F.round(F.max("value_tri_5"), 6).alias("max_tri5"),
        F.count("value_tri_5").cast("long").alias("n_windows"),
    )


@register_extra(
    "x_text_tfidf",
    oracle=f"""
WITH tk AS ({_TK_SQL}),
tok_long AS (SELECT doc_id, unnest(t) AS term FROM tk),
tc AS (SELECT doc_id, term, count(*) AS tf_n FROM tok_long GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf_n) AS doc_len FROM tc GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df_n FROM tc GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tc.doc_id, tc.term,
         round((CAST(tf_n AS DOUBLE) / CAST(doc_len AS DOUBLE))
               * (ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df_n + 1 AS DOUBLE)) + 1.0),
               6) AS tf_idf
  FROM tc JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf_idf,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS rk
  FROM scored
)
WHERE rk <= 5
""",
)
def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf). Two hash aggs +
    one per-doc window top-k; corpus size is a 1-row broadcast.

    r13: doc_len moved from a groupBy-branch + equi-join to a window
    sum sharing the top-k window's partitioning — the corpus was
    tokenized 3× (plans/r13/x_text_tfidf_before.txt: three Generate
    subtrees), now 2× (measured −11% median at sf0.1; a persisted-
    postings variant that gets to 1× was measured SLOWER here — the
    persist round-trip exceeds one 5k-doc tokenize — and stays
    available via tf_idf's ``tc`` parameter for corpus scale, where
    one full text pass dwarfs a postings materialization)."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    return text.tf_idf(docs, "doc_id", "text", k=5)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register_extra(
    "x_mm_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents
),
idx AS (
  SELECT doc_id, text,
         unnest(list_transform(
           generate_series(0, CAST(greatest(nb // 16, 1) AS BIGINT) - 1),
           i -> i * 16)) AS frame_idx
  FROM f
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(text || ':' || frame_idx) AS frame_fp
FROM idx
""",
)
def x_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: 1 binary payload row → N frame rows
    through mapInPandas (the demuxer kernel is a deterministic fake;
    the explode shape, schema contract, and Arrow batching are real)."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_binary(docs, "doc_id", "text")
    return multimodal.fake_frame_index(payloads, every_n=16)


@register_extra(
    "x_mm_extract_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       'blob' AS kind
FROM documents
""",
)
def x_mm_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque BINARY payload + typed metadata, then partition-parallel
    Arrow-batched metadata extraction (mapInPandas) — the real decode-
    stage plumbing with a deterministic hash in place of a codec."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.attach_binary(docs, "doc_id", "text", kind="blob")
    return multimodal.extract_meta(payload, "doc_id")


def _decode_oracle() -> str:
    """Closed-form prediction of the REAL PNG decode: payloads are
    deterministic PNGs synthesized from sha256(text) (pngcodec.
    deterministic_png documents the layout), so the oracle derives
    width/height/channels from the digest bytes and the exact integer
    sample sum from the row-constant pixel recipe — no image library
    needed on the DuckDB side either."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             8 + {byte(0)} % 56 AS w,
             8 + {byte(1)} % 56 AS ht,
             CASE WHEN {byte(2)} % 2 = 0 THEN 3 ELSE 1 END AS ch,
             {byte(3)} AS s
      FROM hh),
m AS (SELECT doc_id, w, ht, ch,
             SUM(CASE WHEN ch = 1 THEN (s + y) % 256
                      ELSE (s + y) % 256 + (s + y + 85) % 256 + (s + y + 170) % 256
                 END) AS rowsum
      FROM p, LATERAL (SELECT unnest(generate_series(0, ht - 1)) AS y) u
      GROUP BY doc_id, w, ht, ch)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(ht AS INTEGER) AS height,
       CAST(ch AS INTEGER) AS channels,
       round(CAST(w * rowsum AS DOUBLE) / (w * ht * ch) / 255.0, 6) AS mean_intensity
FROM m
"""


def _decode_quarantine_oracle(every: int = 13) -> str:
    """Closed-form oracle for the quarantine decode: rows whose
    doc_id % every == 0 carry truncated payloads and MUST quarantine
    with NULL stats; every other row decodes to the digest-predicted
    stats (same math as _decode_oracle)."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             8 + {byte(0)} % 56 AS w,
             8 + {byte(1)} % 56 AS ht,
             CASE WHEN {byte(2)} % 2 = 0 THEN 3 ELSE 1 END AS ch,
             {byte(3)} AS s
      FROM hh),
m AS (SELECT doc_id, w, ht, ch,
             SUM(CASE WHEN ch = 1 THEN (s + y) % 256
                      ELSE (s + y) % 256 + (s + y + 85) % 256 + (s + y + 170) % 256
                 END) AS rowsum
      FROM p, LATERAL (SELECT unnest(generate_series(0, ht - 1)) AS y) u
      GROUP BY doc_id, w, ht, ch)
SELECT doc_id,
       CASE WHEN doc_id % {every} = 0 THEN 'quarantined' ELSE 'ok' END AS status,
       CASE WHEN doc_id % {every} = 0 THEN NULL ELSE CAST(w AS INTEGER) END AS width,
       CASE WHEN doc_id % {every} = 0 THEN NULL ELSE CAST(ht AS INTEGER) END AS height,
       CASE WHEN doc_id % {every} = 0 THEN NULL ELSE CAST(ch AS INTEGER) END AS channels,
       CASE WHEN doc_id % {every} = 0 THEN NULL
            ELSE round(CAST(w * rowsum AS DOUBLE) / (w * ht * ch) / 255.0, 6)
       END AS mean_intensity
FROM m
"""


@register_extra("x_mm_decode_quarantine", oracle=_decode_quarantine_oracle())
def x_mm_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-stage FAULT ISOLATION, oracle-exact end-to-end — the
    media twin of a resilient JSONL ingest:
    every 13th payload is planted torn (valid signature, truncated
    IHDR), the Arrow decode kernel quarantines exactly those rows
    with NULL stats and a fixed status constant (never exception
    text), and every healthy row still decodes through the REAL PNG
    path to its digest-predicted stats. One bad byte range must never
    kill a 10-hour scan — and the oracle proves the quarantine
    boundary lands on exactly the planted rows, with zero collateral
    damage to neighbors in the same Arrow batch."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_corrupt(docs, "doc_id", "text", every=13)
    out = multimodal.decode_image_quarantine(payloads, "doc_id")
    return out.withColumn("mean_intensity", F.round("mean_intensity", 6))


@register_extra("x_mm_decode_stats", oracle=_decode_oracle())
def x_mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode stage with a REAL codec on the hot path: synthesize a
    deterministic PNG per document (executor-side, Arrow batches), then
    decode it with the pure-stdlib PNG decoder (pngcodec.decode_stats —
    chunk walk + CRC verify + IDAT inflate + all five filter
    reconstructions). The oracle predicts the decoded stats in closed
    form from the digest recipe; a decoder bug (filter math, stride,
    chunk parse) breaks the hash match."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.attach_png(docs, "doc_id", "text")
    out = multimodal.decode_image(payload, "doc_id")
    return out.withColumn("mean_intensity", F.round("mean_intensity", 6))


# ---------------------------------------------------------------------------
# Structured Streaming (S1/S2 streaming face + §2.I window extensions)
# ---------------------------------------------------------------------------

_ISO = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _run_stream(spark: SparkSession, agg: DataFrame, mode: str) -> DataFrame:
    """Run a (finite-source) streaming aggregation to completion into a
    uniquely-named memory sink and return the result table."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    q = agg.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture into a temp DIRECTORY (the file
    streaming source lists directories, not single files), with ``ts``
    normalized to bigint epoch-nanos so the staged files always match
    ``EVENTS_SCHEMA`` regardless of the fixture's physical encoding."""
    import tempfile

    from .streaming.ingest import normalize_events

    stage = tempfile.mkdtemp(prefix="events_stream_")
    normalize_events(load(spark, sf_dir, "events")).write.mode("overwrite").parquet(stage)
    return stage


@register_extra(
    "x_stream_tumbling_counts",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es
  FROM events
),
b AS (SELECT event_type, value, es - es % 3600 AS ws FROM e)
SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS w_start,
       strftime(make_timestamp((ws + 3600) * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS w_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM b GROUP BY ws, event_type
""",
)
def x_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts as a REAL Structured Streaming
    query (file source → memory sink, complete mode), verified against
    the batch SQL equivalent. At scale this runs continuously with
    checkpointed offsets replacing the reference's max(epoch) read-back
    (S1)."""
    ensure_harness_conf(spark)
    import shutil

    from .streaming.ingest import EVENTS_SCHEMA, windowed_counts

    stage = _stage_events_dir(spark, sf_dir)
    try:
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)
        agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
        out = _run_stream(spark, agg, "complete")
        return out.select(
            F.date_format("w_start", _ISO).alias("w_start"),
            F.date_format("w_end", _ISO).alias("w_end"),
            "event_type",
            "n",
            "total_value",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "x_stream_stateful_user_stats",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       max(value) AS max_value
FROM events GROUP BY user_id
""",
)
def x_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running count + max maintained in the state store across
    micro-batches, update-mode output. The final running row per user
    (greatest n_events) must equal the batch aggregate exactly — only
    order-independent aggregates are kept, so micro-batch slicing
    cannot change the answer."""
    ensure_harness_conf(spark)
    import shutil

    from .streaming.ingest import EVENTS_SCHEMA, running_user_stats

    stage = _stage_events_dir(spark, sf_dir)
    try:
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(stage)
        out = _run_stream(spark, running_user_stats(stream), "update")
        w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_events", "max_value")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# ---------------------------------------------------------------------------
# Animated GIF frame sampling on a REAL codec (r7, sixteenth batch)
# ---------------------------------------------------------------------------


def _gif_frames_oracle(every: int = 2) -> str:
    """Closed-form prediction of the REAL GIF decode+sample: payloads
    are deterministic GIFs synthesized from sha256(text)
    (gifcodec.deterministic_gif documents the layout), so the oracle
    derives frame count/geometry/delays from digest bytes and each
    sampled frame's mean gray from the row-constant index recipe."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             2 + {byte(0)} % 3 AS nf,
             4 + {byte(1)} % 13 AS w,
             4 + {byte(2)} % 13 AS ht,
             {byte(3)} AS s,
             {byte(4)} AS d4
      FROM hh),
fr AS (
  SELECT doc_id, w, ht, s, d4, u.f AS f
  FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) u
  WHERE u.f % {every} = 0
),
m AS (
  SELECT doc_id, f, w, ht, d4, s,
         SUM(((s + 7 * f + y) % 4) * 85) AS rowsum
  FROM fr, LATERAL (SELECT unnest(generate_series(0, ht - 1)) AS y) u
  GROUP BY doc_id, f, w, ht, d4, s
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(ht AS INTEGER) AS height,
       CAST((d4 + f) % 100 AS INTEGER) AS delay_cs,
       round(CAST(w * rowsum AS DOUBLE) / (w * ht) / 255.0, 6) + 0.0
         AS mean_gray
FROM m
"""


@register_extra("x_mm_gif_frames", oracle=_gif_frames_oracle())
def x_mm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling on a REAL animated codec: synthesize a
    deterministic multi-frame GIF per document (executor-side), decode
    it with the pure-stdlib GIF decoder (gifcodec — LZW with
    dictionary growth/width escalation/clear resets, sub-block walk,
    graphic-control delays), keep every 2nd frame, and emit per-frame
    geometry, delay, and mean gray. The oracle predicts everything in
    closed form from the digest recipe; an LZW or sub-block bug breaks
    the hash match. Upgrades the previously shape-faked video
    frame-sampling path to real bytes (PNG/WAV convention)."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.attach_gif(docs, "doc_id", "text")
    out = multimodal.sample_gif_frames(payload, "doc_id", every=2)
    return out.withColumn(
        "mean_gray", F.round("mean_gray", 6) + F.lit(0.0)
    )


def _jpeg_oracle() -> str:
    """Closed-form prediction of the REAL baseline-JPEG decode:
    payloads are deterministic flat-block JPEGs from sha256(text)
    (jpegcodec.deterministic_jpeg — even block values sit exactly on
    the q00=16 quantizer lattice, so the lossy pipeline is exactly
    invertible by construction). The oracle reproduces the block
    recipe and the exact integer sample sum; a decoder bug (Huffman
    tables, zigzag, dequant, IDCT scaling, sample rounding) breaks
    the hash match."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             1 + {byte(0)} % 7 AS bw,
             1 + {byte(1)} % 7 AS bh,
             {byte(2)} AS base
      FROM hh),
m AS (SELECT doc_id, bw, bh,
             SUM(2 * ((base + 37 * bx + 11 * by) % 128)) AS blocksum
      FROM p,
           LATERAL (SELECT unnest(generate_series(0, bw - 1)) AS bx) ux,
           LATERAL (SELECT unnest(generate_series(0, bh - 1)) AS by) uy
      GROUP BY doc_id, bw, bh)
SELECT doc_id,
       CAST(bw * 8 AS INTEGER) AS width,
       CAST(bh * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS channels,
       round(CAST(64 * blocksum AS DOUBLE) / (bw * 8 * bh * 8) / 255.0, 6)
         AS mean_intensity
FROM m
"""


@register_extra("x_mm_phash_neardup")
def x_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by DCT perceptual hash — the
    multimodal face of the dedup family: render a real textured
    grayscale PNG per document (pngcodec.deterministic_png_textured;
    every 7th doc is a PLANTED twin — the previous doc's texture under
    a wrap-free +25 brightness shift), decode the actual bytes, hash
    each image (multimodal.phash64: integer luma → exact 32×32
    area-average → orthonormal 2-D DCT → median-thresholded 8×8 AC
    block → 63-bit signature), then find all pairs within Hamming
    radius 2 via the same pigeonhole blocking SimHash uses
    (dedup.hamming_near_dup_pairs — chunk equi-joins + popcount
    verify, never all-pairs). `planted` marks the seeded twins; other
    emitted pairs are genuine 63-bit near-collisions the radius search
    is honest about.

    Rows-only gate (a PNG decode + 2-D DCT is past what a SQL oracle
    can express); the exactness claims are pinned in
    tests/test_multimodal.py instead: blocked pairs EQUAL brute-force
    all-pairs Hamming≤2 (pigeonhole completeness), planted-twin recall
    is 100%, and phash64 is bit-invariant under the brightness shift.

    At 100 TB: signature stage is map-only Arrow batches over the
    binary column (the only pass that touches image bytes); the
    radius join shuffles 8-byte signatures, three rows each —
    ~0.001% of the input."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_png_textured(docs, "doc_id", twin_every=7, brightness=25)
    sig = multimodal.phash_signatures(payloads)
    pairs = dedup.hamming_near_dup_pairs(
        sig, "doc_id", "phash", bits=63, max_hamming=2
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "hamming",
        (
            (F.col("doc_b") - F.col("doc_a") == 1)
            & (F.col("doc_b") % 7 == 0)
        ).alias("planted"),
    )


@register_extra("x_mm_audio_fp_neardup")
def x_mm_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection by spectral fingerprint — the
    AUDIO face of the dedup family, completing the modality set
    (text shingles → image pHash → audio spectra): render a real
    spectrally-rich PCM16 WAV per document (wavcodec.
    deterministic_wav_textured, four digest-derived partials; every
    7th doc is a PLANTED twin — the previous doc's waveform at half
    volume), decode the actual RIFF bytes, fingerprint each waveform
    (multimodal.audio_fingerprint63: 8 frames × 8 rFFT band energies
    → sign bits of temporal + spectral deltas, gain-invariant by the
    power-of-two/IEEE commutation argument), then pair within Hamming
    radius 2 through the shared pigeonhole blocking
    (dedup.hamming_near_dup_pairs). Rows-only gate (FFT over decoded
    PCM is past SQL); pinned in tests/test_multimodal.py: blocked
    pairs == brute-force all-pairs, planted recall 100%, gain-shift
    fingerprint drift ≤1 bit across seeds."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_wav_textured(docs, "doc_id", twin_every=7, gain_shift=1)
    sig = multimodal.audio_fingerprint_signatures(payloads)
    pairs = dedup.hamming_near_dup_pairs(sig, "doc_id", "afp", bits=63, max_hamming=2)
    return pairs.select(
        "doc_a",
        "doc_b",
        "hamming",
        (
            (F.col("doc_b") - F.col("doc_a") == 1)
            & (F.col("doc_b") % 7 == 0)
        ).alias("planted"),
    )


@register_extra("x_mm_video_phash_neardup")
def x_mm_video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate detection — the fourth and final modality
    face of the dedup family (text shingles → image pHash → audio
    spectra → video): render a real block-textured MJPEG AVI per
    document (avicodec.deterministic_avi_textured — quantizer-lattice
    frames decode pixel-exactly; every 7th doc is a PLANTED edit of
    its predecessor: frames reversed + first frame cut), decode every
    frame through the real RIFF walk + baseline-JPEG entropy decoder,
    perceptually hash each luma plane with the SAME phash64_luma
    kernel images use, and join videos on EXACT Jaccard ≥ 1/2 over
    their frame-fingerprint SETS via the Bayardo prefix-filtered
    set-similarity join (dedup.jaccard_join_prefix — completeness-
    guaranteed, integer cross-multiplied τ). A video is literally a
    document whose tokens are frame fingerprints, so re-ordering,
    trimming, and per-frame brightness edits are free invariances —
    a sequence hash catches none of them. Planted twins surface at
    jaccard (n−1)/n ∈ [5/6, 10/11]; measured cross-video Jaccard is
    0.0 (SURVEY round-8 log). Rows-only gate (MJPEG decode + DCT is
    past SQL); blocked==bruteforce Jaccard, planted recall, and the
    codec exactness are pinned in tests."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_avi_textured(docs, "doc_id", twin_every=7)
    toks = multimodal.video_phash_tokens(payloads)
    pairs = dedup.jaccard_join_prefix(toks, "doc_id", "frame_hash", 1, 2)
    return pairs.select(
        F.col("id1").alias("doc_a"),
        F.col("id2").alias("doc_b"),
        "inter_size",
        "jaccard",
        (
            (F.col("id2") - F.col("id1") == 1) & (F.col("id2") % 7 == 0)
        ).alias("planted"),
    )


@register_extra("x_pipeline_media_dedup")
def x_pipeline_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused CROSS-MODAL dedup pipeline — the e2e row for the
    multimodal family, shaped like the corpus/activity pipelines:
    render all three media payloads per document (textured PNG / WAV
    / MJPEG-AVI, each planting its twin at doc_id % 7 == 0 against
    the predecessor), fingerprint each modality on real decoded bytes
    (pHash radius-2, audio-FP radius-2, video frame-set Jaccard ≥
    1/2), UNION the pair evidence with a per-pair modality count,
    then min-label connected components over the union and the
    keep-smallest policy. A pair backed by ≥2 independent modalities
    is the high-precision tier a production pipeline auto-applies;
    1-modality pairs go to review — the output carries the evidence
    count so the caller can split exactly there.

    Scale shape: three map-only Arrow fingerprint stages (the ONLY
    passes that touch media bytes), three signature-sized pair joins,
    one CC over the union (bounded rounds, state = one row/doc).
    Rows-only gate; pinned invariants: every planted (7k−1, 7k) pair
    carries evidence 3 (all modalities agree on the same twins by
    construction) and lands in one cluster with rep = min id."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    img = dedup.hamming_near_dup_pairs(
        multimodal.phash_signatures(
            multimodal.attach_png_textured(docs, "doc_id", twin_every=7, brightness=25)
        ),
        "doc_id",
        "phash",
        bits=63,
        max_hamming=2,
    )
    aud = dedup.hamming_near_dup_pairs(
        multimodal.audio_fingerprint_signatures(
            multimodal.attach_wav_textured(docs, "doc_id", twin_every=7, gain_shift=1)
        ),
        "doc_id",
        "afp",
        bits=63,
        max_hamming=2,
    )
    vid = dedup.jaccard_join_prefix(
        multimodal.video_phash_tokens(
            multimodal.attach_avi_textured(docs, "doc_id", twin_every=7)
        ),
        "doc_id",
        "frame_hash",
        1,
        2,
    ).select(F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b"))
    evidence = (
        img.select("doc_a", "doc_b", F.lit("image").alias("m"))
        .unionByName(aud.select("doc_a", "doc_b", F.lit("audio").alias("m")))
        .unionByName(vid.select("doc_a", "doc_b", F.lit("video").alias("m")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_modalities"))
    )
    clusters = dedup.duplicate_clusters(evidence, "doc_a", "doc_b")
    out = (
        evidence.join(
            clusters.select(F.col("doc_id").alias("doc_a"), "rep_id"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            "n_modalities",
            F.col("rep_id").cast("long").alias("cluster_rep"),
            (F.col("doc_b") % 7 == 0).alias("planted"),
        )
    )
    return out.localCheckpoint(eager=True)


@register_extra("x_mm_phash_incremental")
def x_mm_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL image-dedup maintenance — the multimodal face of
    the round-8 maintenance theme (x_dedup_incremental for MinHash):
    when a new image batch lands (doc_id % 10 == 0 plays
    the batch), fold its pHash signatures into the corpus pair state
    at batch-proportional cost — prior verified pairs are reused
    verbatim, and only buckets a batch doc touches generate
    candidates (dedup.hamming_incremental_pairs; pigeonhole blocking
    is stateless, so pairs(C∪B) = pairs(C) ∪ pairs-touching-B exactly
    — the equality is pinned against full recompute in
    tests/test_multimodal.py, not just asserted). Signature stage
    decodes ONLY the batch's images. Rows-only gate (real codec +
    DCT)."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    sig_c = multimodal.phash_signatures(
        multimodal.attach_png_textured(corpus, "doc_id", twin_every=7, brightness=25)
    )
    sig_b = multimodal.phash_signatures(
        multimodal.attach_png_textured(batch, "doc_id", twin_every=7, brightness=25)
    )
    prior = dedup.hamming_near_dup_pairs(sig_c, "doc_id", "phash", bits=63, max_hamming=2)
    merged = dedup.hamming_incremental_pairs(
        sig_c, sig_b, prior, "doc_id", "phash", bits=63, max_hamming=2
    )
    return merged.select(
        "doc_a",
        "doc_b",
        "hamming",
        (F.col("doc_b") % 10 == 0).alias("batch_side"),
    )


@register("x_mm_jpeg_stats", oracle=_jpeg_oracle())
def x_mm_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOSSY-format decode stage with a REAL codec on the hot
    path: synthesize a deterministic baseline JPEG per document
    (real DCT + quantization + Huffman encode, executor-side in
    Arrow batches), then decode it with the pure-stdlib baseline
    decoder (jpegcodec.decode — segment walk, self-declared DQT/DHT,
    entropy decode with byte unstuffing, dequant, zigzag, float
    IDCT, half-up rounding). Completes the PNG/WAV/GIF convention:
    every multimodal fixture format now round-trips real bytes in
    this container, and the previous JPEG shape-fake is gone."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    payload = multimodal.attach_jpeg(docs, "doc_id", "text")
    out = multimodal.decode_jpeg(payload, "doc_id")
    return out.withColumn("mean_intensity", F.round("mean_intensity", 6))


def _video_oracle() -> str:
    """Closed-form prediction of the REAL MJPEG-AVI decode + frame
    sampling: frames are even flat blocks on the JPEG quantizer
    lattice (avicodec.deterministic_avi), so sampled-frame stats are
    pure arithmetic on the sha256 digest bytes."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             2 + {byte(6)} % 5 AS nf,
             {byte(2)} AS base
      FROM hh),
s AS (SELECT doc_id, nf,
             count(*) AS ns,
             sum(2 * ((base + 29 * f) % 128)) AS sumv
      FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1, 2)) AS f) u
      GROUP BY doc_id, nf)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(ns AS BIGINT) AS n_sampled,
       round(CAST(64 * sumv AS DOUBLE) / (64 * ns) / 255.0, 6) AS mean_intensity
FROM s
"""


@register_extra("x_mm_video_frames", oracle=_video_oracle())
def x_mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO on real bytes — the last modality's shape-fake closed:
    a real MJPEG AVI per document (RIFF container walk + one real
    baseline JPEG per frame, both pure-stdlib), every 2nd frame
    sampled, stats over the sampled frames. The lossy frame codec
    stays exactly invertible via the quantizer-lattice fixture
    frames, so the whole container+codec+sampling chain hash-matches
    a closed-form oracle. PNG/WAV/GIF/JPEG/AVI now ALL round-trip
    real bytes in this container."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    out = multimodal.video_frame_stats(docs, "doc_id", "text", stride=2)
    return out.withColumn("mean_intensity", F.round("mean_intensity", 6))


# -- audio analysis rows (moved from queries_curation.py, round 9
# verdict #6 — multimodal family co-location; unchanged) --


def _audio_oracle() -> str:
    """Closed-form prediction of the REAL WAV decode (wavcodec.
    deterministic_wav documents the waveform recipe): the oracle
    regenerates every sample from the sha256 digest bytes and sums the
    same exact integers — no audio library on the DuckDB side."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             64 + {byte(0)} * 4 AS nf,
             8000 + {byte(1)} * 125 AS rate,
             1 + {byte(5)} % 2 AS ch,
             {byte(2)} * 256 + {byte(3)} AS a,
             257 + {byte(4)} AS b
      FROM hh),
t AS (SELECT doc_id, nf, rate, ch,
             (a + b * i) % 65536 AS v
      FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) u),
m AS (SELECT doc_id, nf, rate, ch,
             max(greatest(abs(v - 32768),
                          CASE WHEN ch = 2 THEN abs(32767 - v) ELSE 0 END)) AS peak,
             sum(abs(v - 32768)
                 + CASE WHEN ch = 2 THEN abs(32767 - v) ELSE 0 END) AS sum_abs,
             sum(CAST((v - 32768) AS BIGINT) * (v - 32768)
                 + CASE WHEN ch = 2
                        THEN CAST((32767 - v) AS BIGINT) * (32767 - v)
                        ELSE 0 END) AS sum_sq
      FROM t GROUP BY doc_id, nf, rate, ch)
SELECT doc_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS channels,
       CAST(peak AS BIGINT) AS peak,
       round(CAST(sum_abs AS DOUBLE) / CAST(nf * ch AS DOUBLE), 6) AS mean_abs,
       round(sqrt(CAST(sum_sq AS DOUBLE) / CAST(nf * ch AS DOUBLE)), 6) AS rms
FROM m
"""


@register_extra("x_mm_audio_stats", oracle=_audio_oracle())
def x_mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio decode stage with a REAL codec on the hot path:
    synthesize a deterministic PCM16 WAV per document (executor-side),
    then parse the RIFF chunk structure, unpack interleaved frames and
    reduce to waveform features with the pure-stdlib decoder
    (wavcodec.decode_stats). Second real modality next to the PNG
    image path — the oracle regenerates every sample from the digest
    recipe, so any decoder bug (chunk offsets, endianness, interleave)
    breaks the hash match."""
    ensure_harness_conf(spark)
    docs = load(spark, sf_dir, "documents")
    wav = multimodal.attach_wav(docs, "doc_id", "text")
    return multimodal.decode_audio(wav, "doc_id")


def _audio_resample_oracle() -> str:
    """Closed-form prediction of decimation-by-2 over the REAL WAV
    round-trip: even-indexed frames of the deterministic waveform
    (wavcodec.deterministic_wav), stats over exactly those samples;
    n_frames halves (nf is always even: 64 + 4k), the rate floors."""

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"({nib(2 * k + 1)} * 16 + {nib(2 * k + 2)})"

    return f"""
WITH hh AS (SELECT doc_id, sha256(text) AS h FROM documents),
p AS (SELECT doc_id,
             64 + {byte(0)} * 4 AS nf,
             8000 + {byte(1)} * 125 AS rate,
             1 + {byte(5)} % 2 AS ch,
             {byte(2)} * 256 + {byte(3)} AS a,
             257 + {byte(4)} AS b
      FROM hh),
t AS (SELECT doc_id, nf, rate, ch,
             (a + b * i) % 65536 AS v
      FROM p, LATERAL (SELECT unnest(generate_series(0, nf - 1, 2)) AS i) u),
m AS (SELECT doc_id, nf, rate, ch,
             count(*) AS nf2,
             max(greatest(abs(v - 32768),
                          CASE WHEN ch = 2 THEN abs(32767 - v) ELSE 0 END)) AS peak,
             sum(abs(v - 32768)
                 + CASE WHEN ch = 2 THEN abs(32767 - v) ELSE 0 END) AS sum_abs
      FROM t GROUP BY doc_id, nf, rate, ch)
SELECT doc_id,
       CAST(nf2 AS BIGINT) AS n_frames,
       CAST(rate // 2 AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS channels,
       CAST(peak AS BIGINT) AS peak,
       round(CAST(sum_abs AS DOUBLE) / CAST(nf2 * ch AS DOUBLE), 6) AS mean_abs
FROM m
"""


@register_extra("x_mm_audio_resample", oracle=_audio_resample_oracle())
def x_mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decimation on REAL bytes: synthesize the deterministic
    PCM16 WAV per doc, decode, keep every 2nd frame (channel-aligned
    — the classic decimation bug is slicing samples, not frames),
    re-encode at half rate, decode the re-encoded payload AGAIN and
    report its stats — the output container is proven valid by
    construction. The audio counterpart of the nearest-neighbor PNG
    resize: index decimation picks exact source frames, so the oracle
    predicts every stat in closed form from the waveform recipe."""
    ensure_harness_conf(spark)
    from .operators import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    payload = mm.attach_wav(docs, "doc_id", "text")
    out = mm.resample_audio(payload, factor=2)
    return out.select(
        "doc_id",
        "n_frames",
        "sample_rate",
        "channels",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
    )
