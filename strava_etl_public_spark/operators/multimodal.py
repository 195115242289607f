"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque BINARY columns with typed
metadata structs. The Spark-side plumbing — schema, partition-parallel
batch processing via Arrow (`mapInPandas`), deterministic metadata
extraction — is real and tested; the *codec* step is stubbed (the
image/audio libraries are not in this container) behind a clearly
marked NotImplementedError with a deterministic fake used by tests
and queries.

At 100 TB: payloads stay columnar in parquet, decode runs inside
executors in Arrow batches (bounded by maxRecordsPerBatch), and
metadata-only queries never touch the bytes (column pruning skips the
BINARY column at the scan).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pngcodec

META_SCHEMA = "doc_id long, n_bytes long, sha256 string, kind string"


def _probe_codecs() -> dict[str, bool]:
    """Import-time codec probe: ``pil`` is whether PIL imports; the
    PIL image kernels below activate automatically wherever it does.

    ``png_stdlib`` is always True: operators/pngcodec.py implements a
    real non-interlaced 8-bit PNG decoder on zlib+struct alone, so the
    decode stage has an executable REAL codec without PIL."""
    try:
        import PIL.Image  # noqa: F401

        pil = True
    except ImportError:
        pil = False
    return {"pil": pil, "png_stdlib": True}


#: Which codec backends this environment actually has.
CODECS = _probe_codecs()


def attach_binary(df: DataFrame, id_col: str, text_col: str, kind: str = "blob") -> DataFrame:
    """Materialize an opaque BINARY payload column + typed metadata.
    (Fixtures carry no real media, so the payload is the UTF-8 bytes of
    the text column — shape-identical to an image/audio payload.)"""
    return df.select(
        F.col(id_col),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.octet_length(F.col(text_col).cast("binary")).cast("long").alias("n_bytes"),
            F.lit(kind).alias("kind"),
        ).alias("meta"),
    )


def extract_meta(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Partition-parallel metadata extraction over Arrow batches — the
    real decode-stage plumbing (batch shape, schema contract, executor-
    side hashing). Deterministic: sha256 of the payload bytes."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "sha256": pdf["payload"].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "kind": pdf["meta"].map(lambda m: m["kind"]),
                }
            )

    return binary_df.mapInPandas(_extract, schema=META_SCHEMA)


def attach_png(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a REAL deterministic PNG payload per row (the
    fixture tables carry no media, so the image content derives from
    sha256 of the text column — see pngcodec.deterministic_png for the
    closed-form layout a SQL oracle can predict). Encoding runs
    executor-side in Arrow batches."""

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[text_col].map(
                        lambda t: pngcodec.deterministic_png(
                            hashlib.sha256(str(t).encode()).digest()
                        )
                    ),
                }
            )

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )
    return out.select(
        id_col,
        "payload",
        F.struct(
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.lit("image/png").alias("kind"),
        ).alias("meta"),
    )


def decode_image(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """payload BINARY → (doc_id, width, height, channels,
    mean_intensity) through Arrow `mapInPandas`. Kernel dispatch via
    the import-time probe: PIL where present (any format), else the
    pure-stdlib PNG decoder (operators/pngcodec.py — real chunk walk,
    CRC verify, IDAT inflate, all five filter reconstructions;
    non-interlaced 8-bit PNGs). In this container the stdlib path IS
    the hot path (CODECS['pil'] is False, 'png_stdlib' always True).

    mean_intensity on both kernels = sum(samples)/n/255 with fixed
    division order so SQL oracles reproduce the double exactly."""

    if CODECS["pil"]:

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import io

            import numpy as np
            from PIL import Image

            for pdf in batches:
                rows = {"doc_id": [], "width": [], "height": [], "channels": [], "mean_intensity": []}
                for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                    with Image.open(io.BytesIO(bytes(payload))) as im:
                        arr = np.asarray(im, dtype="int64")
                        rows["doc_id"].append(doc_id)
                        rows["width"].append(im.width)
                        rows["height"].append(im.height)
                        rows["channels"].append(arr.shape[2] if arr.ndim == 3 else 1)
                        rows["mean_intensity"].append(int(arr.sum()) / arr.size / 255.0)
                yield pd.DataFrame(rows)

    else:

        def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {"doc_id": [], "width": [], "height": [], "channels": [], "mean_intensity": []}
                for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                    w, h, c, mean = pngcodec.decode_stats(bytes(payload))
                    rows["doc_id"].append(doc_id)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["channels"].append(c)
                    rows["mean_intensity"].append(mean)
                yield pd.DataFrame(rows)

    return binary_df.mapInPandas(
        _decode,
        schema="doc_id long, width int, height int, channels int, mean_intensity double",
    )


def resize_image(
    binary_df: DataFrame, width: int, height: int, id_col: str = "doc_id", fmt: str = "PNG"
) -> DataFrame:
    """payload BINARY → payload BINARY re-encoded at width×height.
    With PIL present the PIL kernel handles any format; without it,
    PNG payloads go through a REAL pure-stdlib nearest-neighbor
    kernel (pngcodec decode → index-sampled rows/cols → re-encode) —
    so the resize stage is executable in this container, and because
    nearest-neighbor picks EXACT source pixels the resized image's
    stats stay closed-form predictable for the oracle."""
    if not CODECS["pil"]:
        if fmt.upper() != "PNG":
            raise NotImplementedError(
                f"only PNG resize without PIL (probe: {CODECS})"
            )

        def _resize_nn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from . import pngcodec

            for pdf in batches:
                outs = []
                # channels → PNG color type for EVERY layout decode
                # accepts (gray/RGB/gray+alpha/RGBA) — the old
                # 'ch==3 else 0' mapping crashed executor-side on 2- and
                # 4-channel images (code-review finding)
                color_type = {1: 0, 3: 2, 2: 4, 4: 6}
                for payload in pdf["payload"]:
                    w, h, ch, rows = pngcodec.decode(bytes(payload))
                    out_rows = []
                    for y2 in range(height):
                        src = rows[y2 * h // height]
                        row = bytearray()
                        for x2 in range(width):
                            xs = x2 * w // width
                            row += src[xs * ch : (xs + 1) * ch]
                        out_rows.append(bytes(row))
                    outs.append(
                        pngcodec.encode_rows(out_rows, width, color_type[ch])
                    )
                yield pd.DataFrame({id_col: pdf[id_col], "payload": outs})

        return binary_df.mapInPandas(
            _resize_nn, schema=f"{id_col} long, payload binary"
        )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in batches:
            out_ids, out_payloads = [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                with Image.open(io.BytesIO(bytes(payload))) as im:
                    buf = io.BytesIO()
                    im.resize((width, height)).save(buf, format=fmt)
                    out_ids.append(doc_id)
                    out_payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": out_ids, "payload": out_payloads})

    return binary_df.mapInPandas(_resize, schema="doc_id long, payload binary")


def fake_frame_index(
    binary_df: DataFrame, id_col: str = "doc_id", every_n: int = 16
) -> DataFrame:
    """Deterministic stand-in for the frame-sampling stage: derives a
    per-doc frame count from the payload length and emits one row per
    sampled frame with a sha256-derived frame fingerprint — the exact
    explode shape (1 input row → N output rows) a real demuxer yields
    through mapInPandas."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, fps = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                data = bytes(payload)
                n_frames = max(len(data) // every_n, 1)
                for i in range(n_frames):
                    idx = i * every_n
                    ids.append(doc_id)
                    idxs.append(idx)
                    # md5(payload ':' idx) — engine-portable (SQL oracles
                    # can replicate byte-for-byte on text payloads)
                    fps.append(
                        hashlib.md5(data + f":{idx}".encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_fp": fps}
            )

    return binary_df.mapInPandas(
        _frames, schema="doc_id long, frame_idx int, frame_fp string"
    )


def attach_wav(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a REAL deterministic PCM16 WAV payload per row
    (audio sibling of attach_png — content derives from sha256 of the
    text column; wavcodec.deterministic_wav documents the closed-form
    waveform a SQL oracle can reproduce). Encoding runs executor-side
    in Arrow batches."""
    from . import wavcodec

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[text_col].map(
                        lambda t: wavcodec.deterministic_wav(
                            hashlib.sha256(str(t).encode()).digest()
                        )
                    ),
                }
            )

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )
    return out.select(
        id_col,
        "payload",
        F.struct(
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.lit("audio/wav").alias("kind"),
        ).alias("meta"),
    )


def decode_audio(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Waveform feature extraction over a BINARY audio column with a
    REAL decoder on the hot path: wavcodec parses the RIFF chunks,
    validates PCM16, unpacks interleaved frames, and reduces to
    (n_frames, sample_rate, channels, peak, mean_abs, rms) — exact
    integer sums, fixed IEEE op order, 6dp rounding at the edge so the
    whole row is oracle-checkable. PCM is the training-corpus on-disk
    norm; compressed codecs (mp3/opus) would route through PyAV behind
    the same probe the image path uses. Arrow mapInPandas: map-only,
    scan-speed, no shuffle."""
    from . import wavcodec

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [wavcodec.decode_stats(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_frames": [s[0] for s in stats],
                    "sample_rate": [s[1] for s in stats],
                    "channels": [s[2] for s in stats],
                    "peak": [s[3] for s in stats],
                    "mean_abs": [s[4] for s in stats],
                    "rms": [s[5] for s in stats],
                }
            )

    raw = binary_df.select(F.col(id_col), "payload").mapInPandas(
        _decode,
        schema=(
            f"{id_col} long, n_frames long, sample_rate long, "
            "channels long, peak long, mean_abs double, rms double"
        ),
    )
    # round JVM-side: Python's round() is half-even, Spark/DuckDB round
    # half-away — rounding must happen where the oracle's semantics live
    return raw.withColumns(
        {"mean_abs": F.round("mean_abs", 6), "rms": F.round("rms", 6)}
    )


# ---------------------------------------------------------------------------
# Animated GIF: REAL multi-frame decode + frame sampling (r7)
# ---------------------------------------------------------------------------


def attach_gif(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a REAL deterministic animated GIF per row (content
    derives from sha256 of the text column — gifcodec.deterministic_gif
    documents the closed-form layout a SQL oracle can predict).
    Encoding runs executor-side in Arrow batches."""
    from . import gifcodec

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[text_col].map(
                        lambda t: gifcodec.deterministic_gif(
                            hashlib.sha256(str(t).encode()).digest()
                        )
                    ),
                }
            )

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )
    return out.select(
        id_col,
        "payload",
        F.struct(
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.lit("image/gif").alias("kind"),
        ).alias("meta"),
    )


def sample_gif_frames(
    binary_df: DataFrame, id_col: str = "doc_id", every: int = 2
) -> DataFrame:
    """REAL frame sampling on animated payloads: decode the GIF
    (gifcodec.decode — LZW, sub-blocks, graphic-control delays), keep
    every ``every``-th frame, and emit its stats — the video
    frame-sampling stage previously only shape-faked, now running on
    real bytes. mean_gray uses the fixed division order
    ``sum/n/255.0`` so SQL oracles reproduce the double exactly.
    Arrow ``mapInPandas``; one output row per sampled frame."""
    from . import gifcodec

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "delay_cs": [], "mean_gray": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                for i, w, h, delay, mg in gifcodec.frame_stats(bytes(payload)):
                    if i % every != 0:
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["delay_cs"].append(delay)
                    rows["mean_gray"].append(mg)
            yield pd.DataFrame(rows)

    return binary_df.select(id_col, "payload").mapInPandas(
        _frames,
        schema=(
            "doc_id long, frame_idx int, width int, height int, "
            "delay_cs int, mean_gray double"
        ),
    )


def attach_jpeg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Materialize a REAL deterministic baseline JPEG payload per row
    (jpegcodec.deterministic_jpeg documents the closed-form layout:
    even flat 8x8 blocks on the quantizer lattice, so decode is
    exactly predictable). Encoding — real DCT, quantization, Huffman
    entropy coding, byte stuffing — runs executor-side in Arrow
    batches."""

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import jpegcodec

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[text_col].map(
                        lambda t: jpegcodec.deterministic_jpeg(
                            hashlib.sha256(str(t).encode()).digest()
                        )
                    ),
                }
            )

    out = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )
    return out.select(
        id_col,
        "payload",
        F.struct(
            F.octet_length("payload").cast("long").alias("n_bytes"),
            F.lit("image/jpeg").alias("kind"),
        ).alias("meta"),
    )


def decode_jpeg(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """payload BINARY → (doc_id, width, height, channels,
    mean_intensity) through the pure-stdlib baseline JPEG decoder
    (operators/jpegcodec.py — real segment walk, self-declared
    DQT/DHT tables, Huffman entropy decode with byte unstuffing,
    dequant, zigzag, float IDCT, half-up sample rounding). Division
    order of the mean is fixed (sum/n, then /255) so SQL oracles
    reproduce the double exactly — the PNG decode contract applied to
    the lossy format."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import jpegcodec

        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "mean_intensity": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, c, mean = jpegcodec.decode_stats(bytes(payload))
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["mean_intensity"].append(mean)
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(
        _decode,
        schema="doc_id long, width int, height int, channels int, mean_intensity double",
    )


def resample_audio(
    binary_df: DataFrame, factor: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """payload BINARY (PCM16 WAV) → decimated payload BINARY at
    sample_rate // factor: REAL decode, keep every ``factor``-th
    FRAME (all channels of an instant move together — channel
    alignment is the classic decimation bug), re-encode, then decode
    the re-encoded bytes again for the emitted stats — so the output
    payload is proven valid by construction, not assumed. Index
    decimation picks EXACT source frames (the nearest-neighbor-resize
    convention), keeping decoded stats closed-form predictable for
    the oracle. Executor-side in Arrow batches; no audio library."""

    def _resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import wavcodec

        for pdf in batches:
            rows = {
                "doc_id": [],
                "payload": [],
                "n_frames": [],
                "sample_rate": [],
                "channels": [],
                "peak": [],
                "mean_abs": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                rate, ch, samples = wavcodec.decode(bytes(payload))
                frames = [
                    samples[i * ch : (i + 1) * ch]
                    for i in range(0, len(samples) // ch, factor)
                ]
                flat = [s for fr in frames for s in fr]
                out = wavcodec.encode_pcm16(flat, ch, rate // factor)
                r2, c2, s2 = wavcodec.decode(out)
                nf = len(s2) // c2
                peak = max(abs(s) for s in s2) if s2 else 0
                mean_abs = (
                    sum(abs(s) for s in s2) / (nf * c2) if s2 else 0.0
                )
                rows["doc_id"].append(doc_id)
                rows["payload"].append(out)
                rows["n_frames"].append(nf)
                rows["sample_rate"].append(r2)
                rows["channels"].append(c2)
                rows["peak"].append(peak)
                rows["mean_abs"].append(mean_abs)
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(
        _resample,
        schema=(
            "doc_id long, payload binary, n_frames long, sample_rate long, "
            "channels long, peak long, mean_abs double"
        ),
    )


def video_frame_stats(
    df: DataFrame, id_col: str, text_col: str, stride: int = 2
) -> DataFrame:
    """REAL video path: synthesize a deterministic MJPEG AVI per row
    (avicodec.deterministic_avi — real RIFF container, one real
    baseline JPEG per frame), decode it with the stdlib container
    walk + JPEG entropy decoder, SAMPLE every ``stride``-th frame
    (the frame-sampling stage of a video training pipeline), and
    reduce the sampled frames to stats. Executor-side in Arrow
    batches; closed-form oracle via the quantizer-lattice frames."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        from . import avicodec

        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "n_frames": [],
                "n_sampled": [],
                "mean_intensity": [],
            }
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                data = avicodec.deterministic_avi(
                    _hl.sha256(str(text).encode()).digest()
                )
                w, h, nf, frames = avicodec.decode(data)
                sampled = frames[::stride]
                total = sum(sum(p) for p in sampled)
                n = w * h * len(sampled)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(nf)
                rows["n_sampled"].append(len(sampled))
                rows["mean_intensity"].append(total / n / 255.0)
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _stats,
        schema=(
            "doc_id long, width int, height int, n_frames long, "
            "n_sampled long, mean_intensity double"
        ),
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-dup — the multimodal face of dedup)
# ---------------------------------------------------------------------------


def attach_png_textured(
    df: DataFrame,
    id_col: str,
    twin_every: int = 7,
    brightness: int = 25,
) -> DataFrame:
    """Materialize a real TEXTURED grayscale PNG per row (pngcodec.
    deterministic_png_textured — full-rank 2-D texture, so a DCT-based
    perceptual hash has 63 informative bits, unlike the row-constant
    gradient of attach_png), with PLANTED perceptual near-duplicates:
    every ``twin_every``-th doc renders the texture of doc_id−1 shifted
    by a wrap-free constant ``brightness`` — perceptually the same
    image (constant shifts move only the DC coefficient), so a correct
    pHash must pair (doc_id−1, doc_id) while all other ids render
    distinct seeds. Payload seeds derive from doc_id (not text) so the
    plant needs no self-join to fetch the partner's content."""

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def render(doc_id: int) -> bytes:
            planted = doc_id % twin_every == 0 and doc_id != 0
            seed = doc_id - 1 if planted else doc_id
            digest = hashlib.sha256(f"phash:{seed}".encode()).digest()
            return pngcodec.deterministic_png_textured(
                digest, brightness=brightness if planted else 0
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[id_col].map(lambda i: render(int(i))),
                }
            )

    return df.select(F.col(id_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (type-II, norm='ortho') as an n×n
    float64 matrix — T @ x applies the 1-D DCT; T @ A @ T.T the 2-D."""
    import numpy as np

    k = np.arange(n, dtype=np.float64)
    T = np.sqrt(2.0 / n) * np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    T[0] /= np.sqrt(2.0)
    return T


def _box_weights(m: int, n: int):
    """Exact area-average resampling weights from m source bins to n
    target bins: W[j, k] = |[j·m/n, (j+1)·m/n) ∩ [k, k+1)| · n/m.
    Rows sum to 1, so a constant brightness shift of the source maps
    to the same constant shift of every resized cell — the linearity
    the pHash invariance argument rests on."""
    import math

    import numpy as np

    W = np.zeros((n, m), dtype=np.float64)
    for j in range(n):
        lo, hi = j * m / n, (j + 1) * m / n
        for k in range(int(math.floor(lo)), min(int(math.ceil(hi)), m)):
            W[j, k] = min(hi, k + 1.0) - max(lo, float(k))
        W[j] /= hi - lo
    return W


def phash64(payload: bytes) -> int:
    """Classic DCT perceptual hash of a PNG payload, on REAL decoded
    pixels (pngcodec.decode — chunk walk, CRC verify, inflate, filter
    reconstruction): integer Rec.601 luma → exact 32×32 area-average
    resize → orthonormal 2-D DCT → top-left 8×8 block → drop DC →
    median-threshold the 63 AC coefficients → 63-bit signature (bit i
    set iff coefficient i exceeds the median; always non-negative, so
    it survives a signed BIGINT column). Invariances by construction:
    constant brightness shift (moves only the dropped DC), exact
    integer upscaling (area-average is scale-exact), and any metadata
    or encoding-level change (filters, chunk layout) that preserves
    pixels."""
    import numpy as np

    w, h, c, rows = pngcodec.decode(payload)
    flat = np.frombuffer(b"".join(rows), dtype=np.uint8).astype(np.int64)
    if c == 1:
        luma = flat.reshape(h, w).astype(np.float64)
    else:
        px = flat.reshape(h, w, c)
        # integer Rec.601 on the first three channels (alpha ignored)
        luma = (
            299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
        ).astype(np.float64) / 1000.0
    return phash64_luma(luma)


def phash64_luma(luma) -> int:
    """The codec-independent core of :func:`phash64`: 63-bit DCT
    perceptual hash of a 2-D float64 luma array (any decoder — PNG,
    JPEG, an AVI frame plane — feeds this same kernel)."""
    import numpy as np

    h, w = luma.shape
    g = _box_weights(h, 32) @ luma @ _box_weights(w, 32).T
    T = _dct_matrix(32)
    d = T @ g @ T.T
    # round to 6dp before the median compare (the repo-wide FP
    # discipline): a constant brightness shift reaches the AC
    # coefficients only as ~1e-13 float noise (W rows sum to 1 up to
    # rounding), far below the quantum, so ties at the median resolve
    # identically for an image and its shifted twin instead of
    # reordering under the noise
    ac = np.round(d[:8, :8].flatten()[1:], 6)
    med = float(np.median(ac))
    sig = 0
    for i, v in enumerate(ac):
        if v > med:
            sig |= 1 << i
    return sig


def phash_signatures(payloads: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """payload BINARY → (id, phash BIGINT) through Arrow mapInPandas —
    the signature stage of image near-dup. At 100 TB this is the
    map-only heavy step (decode + two 32-point matmuls per image);
    everything after it operates on 8-byte signatures, so the
    pair-finding shuffle moves ~0.001% of the input bytes."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": [phash64(bytes(p)) for p in pdf["payload"]],
                }
            )

    return payloads.mapInPandas(_hash, schema=f"{id_col} long, phash long")


def attach_wav_textured(
    df: DataFrame,
    id_col: str,
    twin_every: int = 7,
    gain_shift: int = 1,
) -> DataFrame:
    """Materialize a real spectrally-rich PCM16 WAV per row (wavcodec.
    deterministic_wav_textured — four digest-derived sinusoidal
    partials; the mod-ramp recipe has only 256 distinct spectra), with
    PLANTED gain-changed twins: every ``twin_every``-th doc renders
    the PREVIOUS doc's waveform right-shifted by ``gain_shift`` bits
    (half volume per step) — same spectral shape, so a correct
    fingerprint must pair them. Seeds derive from doc_id, keeping the
    plant join-free (the image twin discipline of
    attach_png_textured)."""
    from . import wavcodec

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def render(doc_id: int) -> bytes:
            planted = doc_id % twin_every == 0 and doc_id != 0
            seed = doc_id - 1 if planted else doc_id
            digest = hashlib.sha256(f"audiofp:{seed}".encode()).digest()
            return wavcodec.deterministic_wav_textured(
                digest, gain_shift=gain_shift if planted else 0
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[id_col].map(lambda i: render(int(i))),
                }
            )

    return df.select(F.col(id_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )


def audio_fingerprint63(payload: bytes) -> int:
    """Spectral-shape audio fingerprint on REAL decoded PCM (wavcodec.
    decode — RIFF chunk walk, format validation, frame unpack): split
    the first channel into 8 non-overlapping frames, take per-frame
    band energies (rFFT magnitude² summed over 8 equal bands, DC
    dropped), and emit sign bits of the energy DELTAS — 56 temporal
    bits (E[t][b] > E[t−1][b]) + 7 spectral-profile bits from frame 0
    (E[0][b] > E[0][b−1]) = 63 bits, signed-BIGINT safe.

    Gain invariance by construction: a power-of-two volume change
    scales every sample, FFT bin, and band-energy sum EXACTLY in IEEE
    arithmetic (power-of-two multiplies commute with rounding), so
    every energy comparison — both sides scaled alike — is bit-stable;
    the int16 re-quantization of a real gain change adds ±0.5/sample
    of noise against band energies many orders larger, absorbed by
    the Hamming radius."""
    import numpy as np

    from . import wavcodec

    rate, channels, samples = wavcodec.decode(payload)
    x = np.asarray(samples[::channels], dtype=np.float64)
    n_frames = 8
    frame_len = len(x) // n_frames
    if frame_len < 16:
        raise ValueError(f"payload too short for fingerprint: {len(x)} samples")
    E = np.empty((n_frames, 8), dtype=np.float64)
    for t in range(n_frames):
        spec = np.fft.rfft(x[t * frame_len : (t + 1) * frame_len])
        mag2 = spec.real * spec.real + spec.imag * spec.imag
        bins = mag2[1:]
        band = len(bins) // 8
        for b in range(8):
            E[t, b] = bins[b * band : (b + 1) * band].sum()
    sig = 0
    bit = 0
    for t in range(1, n_frames):
        for b in range(8):
            if E[t, b] > E[t - 1, b]:
                sig |= 1 << bit
            bit += 1
    for b in range(1, 8):
        if E[0, b] > E[0, b - 1]:
            sig |= 1 << bit
        bit += 1
    return sig


def audio_fingerprint_signatures(
    payloads: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """payload BINARY → (id, afp BIGINT) through Arrow mapInPandas —
    the audio twin of phash_signatures; the pair-finding stage then
    shuffles 8-byte signatures only."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "afp": [audio_fingerprint63(bytes(p)) for p in pdf["payload"]],
                }
            )

    return payloads.mapInPandas(_hash, schema=f"{id_col} long, afp long")


def attach_avi_textured(
    df: DataFrame,
    id_col: str,
    twin_every: int = 7,
) -> DataFrame:
    """Materialize a real block-textured MJPEG AVI per row (avicodec.
    deterministic_avi_textured — quantizer-lattice frames, so the
    lossy codec round-trips pixel-exactly), with PLANTED edited
    twins: every ``twin_every``-th doc renders the PREVIOUS doc's
    video with the frame order REVERSED and the first frame CUT —
    the classic re-upload edit an order-free frame-fingerprint set
    comparison must catch (Jaccard (n−1)/n) and a sequence hash
    would miss. Seeds derive from doc_id (join-free plant)."""
    from . import avicodec

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def render(doc_id: int) -> bytes:
            planted = doc_id % twin_every == 0 and doc_id != 0
            seed = doc_id - 1 if planted else doc_id
            digest = hashlib.sha256(f"videofp:{seed}".encode()).digest()
            return avicodec.deterministic_avi_textured(
                digest, reverse=planted, drop_first=planted
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pdf[id_col].map(lambda i: render(int(i))),
                }
            )

    return df.select(F.col(id_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )


def video_phash_tokens(payloads: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """payload BINARY → exploded (id, frame_hash) token table: decode
    every MJPEG frame (real RIFF walk + baseline-JPEG entropy decode)
    and perceptually hash each luma plane through the SAME
    phash64_luma kernel the image path uses. One row per DISTINCT
    frame hash per video — the input shape of the exact set-similarity
    join, which turns video near-dup into Jaccard over frame-
    fingerprint sets (order-free: robust to re-ordering, trimming,
    and per-frame brightness edits by construction). Map-only Arrow;
    the join stage then never touches video bytes."""
    import numpy as np

    from . import avicodec

    def _toks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, nf, frames = avicodec.decode(bytes(payload))
                seen = set()
                for plane in frames:
                    sig = phash64_luma(
                        np.asarray(plane, dtype=np.float64).reshape(h, w)
                    )
                    if sig not in seen:
                        seen.add(sig)
                        ids.append(doc_id)
                        hashes.append(sig)
            yield pd.DataFrame({id_col: ids, "frame_hash": hashes})

    return payloads.mapInPandas(_toks, schema=f"{id_col} long, frame_hash long")


def attach_png_corrupt(
    df: DataFrame, id_col: str, text_col: str, every: int = 13
) -> DataFrame:
    """attach_png with PLANTED corruption: every ``every``-th doc's
    payload is truncated to its first 20 bytes (valid signature, torn
    IHDR) — the poisoned-shard fixture for the decode-quarantine
    pattern. Deterministic, so a SQL oracle knows exactly which rows
    must quarantine."""

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def render(doc_id: int, text) -> bytes:
            payload = pngcodec.deterministic_png(
                hashlib.sha256(str(text).encode()).digest()
            )
            if doc_id % every == 0:
                return payload[:20]
            return payload

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [
                        render(int(i), t)
                        for i, t in zip(pdf[id_col], pdf[text_col])
                    ],
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _attach, schema=f"{id_col} long, payload binary"
    )


def decode_image_quarantine(
    binary_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The decode stage with PER-ROW fault isolation — the media twin
    of the JSONL corrupt-record capture (badRecordsPath semantics): a
    payload the codec rejects becomes a quarantine row (status
    'quarantined', NULL stats) instead of killing the task, the batch,
    and the job with it; good rows decode exactly as decode_image. At
    100 TB a poisoned shard is a certainty, and one torn byte range
    must never cost a 10-hour pipeline. Statuses are fixed constants
    (not exception text) so the output is engine-portable and
    oracle-checkable."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "status": [], "width": [], "height": [],
                "channels": [], "mean_intensity": [],
            }
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                rows["doc_id"].append(doc_id)
                try:
                    w, h, c, mean = pngcodec.decode_stats(bytes(payload))
                    rows["status"].append("ok")
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["channels"].append(c)
                    rows["mean_intensity"].append(mean)
                except (ValueError, NotImplementedError):
                    rows["status"].append("quarantined")
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["channels"].append(None)
                    rows["mean_intensity"].append(None)
            yield pd.DataFrame(rows)

    return binary_df.mapInPandas(
        _decode,
        schema=(
            "doc_id long, status string, width int, height int, "
            "channels int, mean_intensity double"
        ),
    )
