"""Multimodal plumbing tests: binary payload schema, Arrow-batched
metadata extraction, and the stubbed codec contract (north-star
extension).
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from strava_etl_public_spark.operators.multimodal import (
    attach_binary,
    decode_image,
    extract_meta,
)


def _bin_df(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["hello", "world!"]})
    )
    return attach_binary(docs, "doc_id", "text", kind="image")


def test_attach_binary_schema(spark):
    df = _bin_df(spark)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["payload"] == "binary"
    assert schema["meta"].startswith("struct<n_bytes:bigint,kind:string")
    meta = df.orderBy("doc_id").select("meta.n_bytes").toPandas().n_bytes.tolist()
    assert meta == [5, 6]


def test_extract_meta_sha256(spark):
    out = extract_meta(_bin_df(spark)).toPandas().set_index("doc_id")
    assert out.loc[1, "sha256"] == hashlib.sha256(b"hello").hexdigest()
    assert out.loc[2, "n_bytes"] == 6
    assert set(out.kind) == {"image"}


def test_absent_codecs_still_stubbed(spark):
    """decode_image and PNG resize are not probe-gated — the stdlib
    kernels took those paths over (test_decode_image_real_png /
    test_resize_nn_stdlib_roundtrip). Non-PNG resize still needs
    PIL."""
    from strava_etl_public_spark.operators.multimodal import (
        CODECS,
        resize_image,
    )

    if not CODECS["pil"]:
        with pytest.raises(NotImplementedError):
            resize_image(_bin_df(spark), 64, 64, fmt="JPEG")


def test_decode_image_real_png(spark):
    """End-to-end REAL decode: attach_png synthesizes genuine PNG bytes
    (signature, CRC-valid chunks, deflate, per-row filters 0-4) and
    decode_image reconstructs them with the stdlib kernel. Expectations
    computed from the digest recipe, independently of the codec."""
    import hashlib as hl

    from strava_etl_public_spark.operators.multimodal import attach_png

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["hello", "world!", "abc"]})
    )
    out = (
        decode_image(attach_png(docs, "doc_id", "text"))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    for doc_id, text in [(1, "hello"), (2, "world!"), (3, "abc")]:
        d = hl.sha256(text.encode()).digest()
        w, h = 8 + d[0] % 56, 8 + d[1] % 56
        c, s = (3 if d[2] % 2 == 0 else 1), d[3]
        rowsum = sum(
            (s + y) % 256
            if c == 1
            else (s + y) % 256 + (s + y + 85) % 256 + (s + y + 170) % 256
            for y in range(h)
        )
        assert out.loc[doc_id, "width"] == w
        assert out.loc[doc_id, "height"] == h
        assert out.loc[doc_id, "channels"] == c
        assert out.loc[doc_id, "mean_intensity"] == (w * rowsum) / (w * h * c) / 255.0


def test_png_codec_filters_and_errors():
    """Pure-codec contract: all five filter types round-trip pixel-
    identically; hand-computed filter vectors pin the encoder side so a
    matching encode/decode bug pair can't cancel; corrupt CRC and
    unsupported headers are rejected loudly."""
    import struct
    import zlib

    from strava_etl_public_spark.operators import pngcodec as P

    rows = [
        bytes([(7 * x + 13 * y) % 256 for x in range(9) for _ in range(3)])
        for y in range(7)
    ]
    for ft in range(5):
        png = P.encode_rows(rows, 9, 2, filter_of=lambda y, ft=ft: ft)
        _, _, _, back = P.decode(png)
        assert back == rows, f"filter {ft} round-trip"

    # hand-computed vectors, bpp=1, row=[10,20,30] over prev=[5,5,5]
    row, prev = bytes([10, 20, 30]), bytes([5, 5, 5])
    assert P._filter_row(1, row, prev, 1) == bytes([10, 10, 10])  # Sub
    assert P._filter_row(2, row, prev, 1) == bytes([5, 15, 25])  # Up
    assert P._filter_row(3, row, prev, 1) == bytes([8, 13, 18])  # Average
    assert P._filter_row(4, row, prev, 1) == bytes([5, 10, 10])  # Paeth

    good = P.encode_rows([bytes([1, 2, 3])], 3, 0)
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        P.decode(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        P.decode(b"nope" + good)
    # 16-bit depth must be rejected, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="bit depth"):
        P.decode(deep)


def test_fake_frame_index_explode_shape(spark):
    from strava_etl_public_spark.operators.multimodal import fake_frame_index

    out = fake_frame_index(_bin_df(spark), every_n=4).toPandas()
    # 'hello' (5 bytes) -> 1 frame; 'world!' (6 bytes) -> 1 frame at n=4
    by_doc = out.groupby("doc_id").size().to_dict()
    assert by_doc == {1: 1, 2: 1}
    fine = fake_frame_index(_bin_df(spark), every_n=2).toPandas()
    assert fine[fine.doc_id == 2].frame_idx.tolist() == [0, 2, 4]
    want = hashlib.md5(b"hello:0").hexdigest()
    assert fine[fine.doc_id == 1].frame_fp.iloc[0] == want


def test_codec_probe_and_gating(spark):
    """The import-time probe records what the container has; the real
    kernels must raise (with the probe in the message) exactly when
    their backend is absent, and run otherwise."""
    from strava_etl_public_spark.operators.multimodal import (
        CODECS,
        attach_binary,
        decode_image,
    )

    assert set(CODECS) == {"pil", "png_stdlib"}
    assert CODECS["png_stdlib"] is True  # stdlib decoder is always live
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}))
    b = attach_binary(docs, "doc_id", "text")
    decode_image(b)  # plans with either kernel (PIL or stdlib PNG)


def test_resize_nn_stdlib_roundtrip(spark):
    import pandas as pd

    from strava_etl_public_spark.operators import multimodal, pngcodec

    # build a 4x2 gradient PNG, resize to 2x1 and 8x4, check exact
    # nearest-neighbor pixel selection through the real codec
    rows = [bytes([10, 20, 30, 40]), bytes([50, 60, 70, 80])]
    payload = pngcodec.encode_rows(rows, 4, 0)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "payload": [payload]}))
    small = multimodal.resize_image(df, 2, 1, "doc_id").collect()[0]
    w, h, c, out_rows = pngcodec.decode(bytes(small["payload"]))
    assert (w, h, c) == (2, 1, 1)
    assert list(out_rows[0]) == [10, 30]  # cols 0,2 of row 0
    big = multimodal.resize_image(df, 8, 4, "doc_id").collect()[0]
    w, h, c, out_rows = pngcodec.decode(bytes(big["payload"]))
    assert (w, h) == (8, 4)
    assert list(out_rows[0]) == [10, 10, 20, 20, 30, 30, 40, 40]  # upsample dup
    assert list(out_rows[3]) == [50, 50, 60, 60, 70, 70, 80, 80]


# ---------------------------------------------------------------------------
# Perceptual hash (image near-dup)
# ---------------------------------------------------------------------------


def _tex_digest(seed: int) -> bytes:
    return hashlib.sha256(f"phash:{seed}".encode()).digest()


def test_phash_brightness_invariant_bitexact():
    """A wrap-free constant brightness shift moves only the dropped DC
    coefficient — the hash must be IDENTICAL, not merely close."""
    from strava_etl_public_spark.operators.multimodal import phash64
    from strava_etl_public_spark.operators.pngcodec import deterministic_png_textured

    for seed in range(64):
        d = _tex_digest(seed)
        assert phash64(deterministic_png_textured(d, 0)) == phash64(
            deterministic_png_textured(d, 25)
        ), f"seed {seed} hash moved under brightness shift"


def test_phash_upscale_exact_for_integer_multiples():
    """Area-average resize is exact under integer upsampling: an image
    with every row and column duplicated k times resizes to the same
    32x32 grid, so the hash is scale-invariant by construction."""
    import numpy as np

    from strava_etl_public_spark.operators.multimodal import phash64
    from strava_etl_public_spark.operators.pngcodec import (
        decode,
        deterministic_png_textured,
        encode_rows,
    )

    d = _tex_digest(7)
    base = deterministic_png_textured(d, 0)
    w, h, c, rows = decode(base)
    arr = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(h, w)
    up = np.repeat(np.repeat(arr, 2, axis=0), 2, axis=1)
    up_png = encode_rows([bytes(r.tobytes()) for r in up], 2 * w, 0)
    assert phash64(base) == phash64(up_png)


def test_phash_distinct_across_seeds():
    """Texture entropy sanity: distinct seeds should nearly always
    produce distinct hashes (the row-constant gradient recipe fails
    this — its hash carries ~7 informative bits)."""
    from strava_etl_public_spark.operators.multimodal import phash64
    from strava_etl_public_spark.operators.pngcodec import deterministic_png_textured

    sigs = {phash64(deterministic_png_textured(_tex_digest(s), 0)) for s in range(200)}
    assert len(sigs) >= 195


def test_phash_neardup_blocked_equals_bruteforce(spark):
    """Pigeonhole completeness on the real payload path: the blocked
    radius-2 join emits EXACTLY the brute-force all-pairs result, and
    every planted twin (doc_id-1, doc_id) is recovered at hamming 0."""
    import itertools

    import pandas as pd

    from strava_etl_public_spark.operators.dedup import hamming_near_dup_pairs
    from strava_etl_public_spark.operators.multimodal import (
        attach_png_textured,
        phash_signatures,
    )

    ids = list(range(1, 120))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    payloads = attach_png_textured(docs, "doc_id", twin_every=7, brightness=25)
    sig = phash_signatures(payloads)
    sig_map = {r.doc_id: r.phash for r in sig.collect()}

    pairs = hamming_near_dup_pairs(sig, "doc_id", "phash", bits=63, max_hamming=2)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}

    brute = {
        (a, b, bin(sig_map[a] ^ sig_map[b]).count("1"))
        for a, b in itertools.combinations(ids, 2)
        if bin(sig_map[a] ^ sig_map[b]).count("1") <= 2
    }
    assert got == brute

    planted = {(k - 1, k) for k in ids if k % 7 == 0 and (k - 1) in ids}
    for a, b in planted:
        assert (a, b, 0) in got, f"planted twin ({a},{b}) not recovered"


# ---------------------------------------------------------------------------
# Audio spectral fingerprint (audio near-dup)
# ---------------------------------------------------------------------------


def _afp_digest(seed: int) -> bytes:
    return hashlib.sha256(f"audiofp:{seed}".encode()).digest()


def test_audio_fingerprint_gain_invariant():
    """Half-volume (gain_shift=1) must drift the fingerprint by at
    most 1 bit — the int16 truncation noise bound the radius-2 search
    absorbs (true power-of-two float scaling would be 0 bits by the
    IEEE commutation argument)."""
    from strava_etl_public_spark.operators.multimodal import audio_fingerprint63
    from strava_etl_public_spark.operators.wavcodec import deterministic_wav_textured

    for seed in range(64):
        d = _afp_digest(seed)
        h0 = audio_fingerprint63(deterministic_wav_textured(d, 0))
        h1 = audio_fingerprint63(deterministic_wav_textured(d, 1))
        assert bin(h0 ^ h1).count("1") <= 1, f"seed {seed} drifted >1 bit"


def test_audio_fingerprint_exact_under_float_gain():
    """The invariance argument itself: scaling the decoded samples by
    an exact power of two before the FFT produces the IDENTICAL
    fingerprint (power-of-two multiplies commute with IEEE rounding),
    checked by re-encoding pre-scaled float->int-exact samples."""
    from strava_etl_public_spark.operators.multimodal import audio_fingerprint63
    from strava_etl_public_spark.operators.wavcodec import (
        decode,
        deterministic_wav_textured,
        encode_pcm16,
    )

    d = _afp_digest(3)
    base = deterministic_wav_textured(d, 0)
    rate, ch, samples = decode(base)
    # choose samples already even so >>1 IS an exact power-of-two scale
    evened = [s & ~1 for s in samples]
    a = encode_pcm16(evened, ch, rate)
    b = encode_pcm16([s >> 1 for s in evened], ch, rate)
    assert audio_fingerprint63(a) == audio_fingerprint63(b)


def test_audio_fingerprint_distinct_across_seeds():
    from strava_etl_public_spark.operators.multimodal import audio_fingerprint63
    from strava_etl_public_spark.operators.wavcodec import deterministic_wav_textured

    sigs = {
        audio_fingerprint63(deterministic_wav_textured(_afp_digest(s), 0))
        for s in range(200)
    }
    assert len(sigs) >= 190


def test_audio_neardup_blocked_equals_bruteforce(spark):
    import itertools

    import pandas as pd

    from strava_etl_public_spark.operators.dedup import hamming_near_dup_pairs
    from strava_etl_public_spark.operators.multimodal import (
        attach_wav_textured,
        audio_fingerprint_signatures,
    )

    ids = list(range(1, 120))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    payloads = attach_wav_textured(docs, "doc_id", twin_every=7, gain_shift=1)
    sig = audio_fingerprint_signatures(payloads)
    sig_map = {r.doc_id: r.afp for r in sig.collect()}

    pairs = hamming_near_dup_pairs(sig, "doc_id", "afp", bits=63, max_hamming=2)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
    brute = {
        (a, b, bin(sig_map[a] ^ sig_map[b]).count("1"))
        for a, b in itertools.combinations(ids, 2)
        if bin(sig_map[a] ^ sig_map[b]).count("1") <= 2
    }
    assert got == brute
    planted = {(k - 1, k) for k in ids if k % 7 == 0 and (k - 1) in ids}
    for a, b in planted:
        found = [(x, y, h) for (x, y, h) in got if (x, y) == (a, b)]
        assert found, f"planted twin ({a},{b}) not recovered"


# ---------------------------------------------------------------------------
# Video frame-fingerprint near-dup
# ---------------------------------------------------------------------------


def test_avi_textured_roundtrip_exact():
    """Quantizer-lattice block frames must decode pixel-exactly
    through the real MJPEG encode→container→decode path."""
    from strava_etl_public_spark.operators import avicodec

    d = hashlib.sha256(b"videofp:5").digest()
    w, h, nf, frames = avicodec.decode(avicodec.deterministic_avi_textured(d))
    assert (w, h) == (32, 32) and nf == 6 + d[7] % 5
    a = d[2]
    f = 0
    b, c, e = 1 + 2 * ((d[3] + f) % 8), 1 + 2 * ((d[4] + 3 * f) % 8), (d[5] + f) % 4
    expect = [
        2 * ((a + b * (x // 8) + c * (y // 8) + e * (x // 8) * (y // 8)
              + d[8 + (4 * (y // 8) + (x // 8) + 7 * f) % 24]) % 128)
        for y in range(32)
        for x in range(32)
    ]
    assert frames[0] == expect


def test_video_edit_twin_jaccard():
    """A reversed, first-frame-cut edit must share exactly n−1 of n
    frame fingerprints with its source (order-free set semantics)."""
    import numpy as np

    from strava_etl_public_spark.operators import avicodec
    from strava_etl_public_spark.operators.multimodal import phash64_luma

    def toks(data):
        w, h, nf, frames = avicodec.decode(data)
        return {
            phash64_luma(np.asarray(p, dtype=np.float64).reshape(h, w))
            for p in frames
        }

    for seed in range(24):
        d = hashlib.sha256(f"videofp:{seed}".encode()).digest()
        t0 = toks(avicodec.deterministic_avi_textured(d))
        t1 = toks(avicodec.deterministic_avi_textured(d, reverse=True, drop_first=True))
        n = 6 + d[7] % 5
        assert len(t0) == n, f"seed {seed}: frame hashes collide within video"
        assert t1 < t0 and len(t1) == n - 1


def test_video_neardup_blocked_equals_bruteforce(spark):
    """The prefix-filtered Jaccard join over frame-fingerprint sets
    must equal brute-force all-pairs Jaccard >= 1/2, and recover every
    planted edit twin."""
    import itertools

    import pandas as pd

    from strava_etl_public_spark.operators.dedup import jaccard_join_prefix
    from strava_etl_public_spark.operators.multimodal import (
        attach_avi_textured,
        video_phash_tokens,
    )

    ids = list(range(1, 64))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    toks = video_phash_tokens(attach_avi_textured(docs, "doc_id", twin_every=7))
    tok_map: dict[int, set] = {}
    for r in toks.collect():
        tok_map.setdefault(r.doc_id, set()).add(r.frame_hash)

    pairs = jaccard_join_prefix(toks, "doc_id", "frame_hash", 1, 2)
    got = {(r.doc_a if hasattr(r, "doc_a") else r.id1,
            r.doc_b if hasattr(r, "doc_b") else r.id2) for r in pairs.collect()}

    brute = set()
    for a, b in itertools.combinations(ids, 2):
        ta, tb = tok_map[a], tok_map[b]
        if 2 * len(ta & tb) >= len(ta | tb):
            brute.add((a, b))
    assert got == brute

    planted = {(k - 1, k) for k in ids if k % 7 == 0 and (k - 1) in ids}
    assert planted <= got


def test_media_dedup_pipeline_cross_modal_evidence(spark):
    """Every planted twin must be found by ALL THREE modality
    fingerprints (evidence 3) and cluster at the min id; no pair may
    claim more modalities than exist."""
    import pandas as pd

    from strava_etl_public_spark.queries import EXTRA_QUERIES  # noqa: F401
    import strava_etl_public_spark.queries_text_mm_stream as MM

    # small synthetic corpus through the same pipeline body
    ids = list(range(1, 50))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))

    from strava_etl_public_spark.operators import dedup, multimodal

    img = dedup.hamming_near_dup_pairs(
        multimodal.phash_signatures(
            multimodal.attach_png_textured(docs, "doc_id", twin_every=7, brightness=25)
        ),
        "doc_id", "phash", bits=63, max_hamming=2,
    )
    aud = dedup.hamming_near_dup_pairs(
        multimodal.audio_fingerprint_signatures(
            multimodal.attach_wav_textured(docs, "doc_id", twin_every=7, gain_shift=1)
        ),
        "doc_id", "afp", bits=63, max_hamming=2,
    )
    vid = dedup.jaccard_join_prefix(
        multimodal.video_phash_tokens(
            multimodal.attach_avi_textured(docs, "doc_id", twin_every=7)
        ),
        "doc_id", "frame_hash", 1, 2,
    )
    from pyspark.sql import functions as F

    ev = (
        img.select("doc_a", "doc_b", F.lit("i").alias("m"))
        .unionByName(aud.select("doc_a", "doc_b", F.lit("a").alias("m")))
        .unionByName(
            vid.select(
                F.col("id1").alias("doc_a"), F.col("id2").alias("doc_b"),
                F.lit("v").alias("m"),
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {(r.doc_a, r.doc_b): r.n for r in ev.collect()}
    assert all(1 <= n <= 3 for n in got.values())
    planted = {(k - 1, k) for k in ids if k % 7 == 0 and (k - 1) in ids}
    for p in planted:
        assert got.get(p) == 3, f"planted {p} evidence {got.get(p)} != 3"

    clusters = {r.doc_id: r.rep_id for r in
                dedup.duplicate_clusters(ev, "doc_a", "doc_b").collect()}
    for a, b in planted:
        assert clusters[b] <= a and clusters[a] == clusters[b]


def test_hamming_incremental_equals_full_recompute(spark):
    """pairs(corpus ∪ batch) built incrementally (prior pairs + batch
    bucket probes) must EQUAL the full recompute — on hot-bucket-free
    data this is exact set equality, not an approximation."""
    import pandas as pd

    from strava_etl_public_spark.operators.dedup import (
        hamming_incremental_pairs,
        hamming_near_dup_pairs,
    )
    from strava_etl_public_spark.operators.multimodal import (
        attach_png_textured,
        phash_signatures,
    )

    ids = list(range(1, 140))
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
    sig_all = phash_signatures(
        attach_png_textured(docs, "doc_id", twin_every=7, brightness=25)
    ).localCheckpoint(eager=True)
    sig_c = sig_all.filter("doc_id % 10 != 0")
    sig_b = sig_all.filter("doc_id % 10 == 0")

    prior = hamming_near_dup_pairs(sig_c, "doc_id", "phash", bits=63, max_hamming=2)
    inc = hamming_incremental_pairs(
        sig_c, sig_b, prior, "doc_id", "phash", bits=63, max_hamming=2
    )
    full = hamming_near_dup_pairs(sig_all, "doc_id", "phash", bits=63, max_hamming=2)

    got = {(r.doc_a, r.doc_b, r.hamming) for r in inc.collect()}
    want = {(r.doc_a, r.doc_b, r.hamming) for r in full.collect()}
    assert got == want
    # and the batch genuinely contributed (70 is a planted twin of 69)
    assert any(b % 10 == 0 or a % 10 == 0 for a, b, _ in got)


def test_hamming_incremental_hub_guard_keeps_connectivity(spark):
    """With an artificially tiny max_bucket the incremental path must
    still connect every batch doc in a hot bucket to the bucket hub
    (star semantics), never drop it silently."""
    import pandas as pd

    from strava_etl_public_spark.operators.dedup import hamming_incremental_pairs

    # 30 identical signatures → every chunk bucket is hot at max_bucket=4
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(1, 21)), "phash": [12345] * 20})
    )
    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(21, 31)), "phash": [12345] * 10})
    )
    prior = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1] * 19, "doc_b": list(range(2, 21)), "hamming": [0] * 19})
    )
    inc = hamming_incremental_pairs(
        corpus, batch, prior, "doc_id", "phash", bits=63, max_hamming=2, max_bucket=4
    )
    rows = {(r.doc_a, r.doc_b) for r in inc.collect()}
    covered = {b for a, c in rows for b in (a, c)}
    for bid in range(21, 31):
        assert bid in covered, f"batch doc {bid} dropped by hub guard"


def test_decode_quarantine_isolates_bad_rows(spark):
    """A torn payload quarantines its OWN row only — neighbors in the
    same Arrow batch decode normally; a fully bogus payload (bad
    signature) quarantines too rather than raising."""
    import pandas as pd

    from strava_etl_public_spark.operators.multimodal import (
        attach_png_corrupt,
        decode_image_quarantine,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(26)), "text": [f"t{i}" for i in range(26)]})
    )
    out = decode_image_quarantine(
        attach_png_corrupt(docs, "doc_id", "text", every=13)
    ).toPandas().set_index("doc_id")
    assert set(out[out.status == "quarantined"].index) == {0, 13}
    good = out[out.status == "ok"]
    assert len(good) == 24 and good.width.notna().all()
