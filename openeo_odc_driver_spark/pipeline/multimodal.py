"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The IMAGE decode step is REAL for PNG: `decode_image` parses
PNG payloads with the repo's pure-stdlib codec (`..sinks.png`, zlib +
struct — the same encoder the PNG sink uses), and `attach_png_images`
synthesizes genuine PNG payloads, and REAL for baseline JPEG:
`decode_image` dispatches on magic bytes to the pure-numpy
T.81 codec (`.jpeg` — Annex-K tables, vectorized 8×8 DCT), and
`attach_jpeg_images` synthesizes genuine JFIF payloads; round 10 adds
`attach_webp_images` (real VP8L lossless). Lossy VP8 remains
the documented library boundary (no PIL/cv2 in this container).
The AUDIO decode step is REAL: `decode_audio` parses RIFF/WAV
(PCM16) with the stdlib `wave` module, and `attach_wav_audio` synthesizes
genuine WAV payloads with the stdlib encoder.

Scale notes: binary payloads dominate row size, so `maxRecordsPerBatch`
must cap Arrow batches by *bytes* not rows — `frame_sample`/`resize` set a
conservative batch cap via repartitioning on size buckets upstream; blobs
never pass through a shuffle after decode (features are extracted in the
same stage as the scan).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

def attach_fake_images(docs: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Fixture adapter: derive a deterministic binary 'image' column from
    document text (content-addressed fake payload) + typed metadata."""
    return docs.select(
        "doc_id",
        F.unhex(F.md5("text")).alias("image"),
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake-rgb").alias("format"),
        ).alias("image_meta"),
    )


def _synth_rgb(seed: int, width: int, height: int) -> np.ndarray:
    """The ONE seed-keyed synthetic image (gradient R/G + seeded-noise B)
    behind both fixture encoders — (h, w, 3) uint8. Shared so the PNG
    and JPEG adapters provably carry the same content underneath
    (test_decode_image_dispatches_jpeg_and_png leans on that)."""
    rng = np.random.default_rng(seed % (2 ** 32))
    yy, xx = np.meshgrid(
        np.arange(height, dtype="int64"), np.arange(width, dtype="int64"),
        indexing="ij",
    )
    r = (xx * 255 // max(width - 1, 1) + seed) % 256
    g = (yy * 255 // max(height - 1, 1) + 3 * seed) % 256
    b = rng.integers(0, 256, size=(height, width), dtype="int64")
    return np.stack([r, g, b], axis=-1).astype(np.uint8)  # (h, w, 3)


def synth_png_bytes(seed: int, width: int = 32, height: int = 32) -> bytes:
    """Deterministic RGB PNG via the repo's pure-stdlib encoder
    (``..sinks.png.encode_png``) over :func:`_synth_rgb` — *real* PNG
    bytes any image tool can open, content-addressed so fixtures are
    reproducible."""
    from ..sinks.png import encode_png

    return encode_png(np.transpose(_synth_rgb(seed, width, height), (2, 0, 1)))


def attach_png_images(docs: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Fixture adapter: a **real** PNG binary column (stdlib encoder,
    seeded by doc_id) + typed metadata. Arrow-batched pandas UDF — the
    payload never leaves the executor that synthesized it."""
    @F.pandas_udf("binary")
    def make_png(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_png_bytes(int(i), width, height))

    return docs.select(
        "doc_id",
        make_png("doc_id").alias("image"),
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("png/rgb8").alias("format"),
        ).alias("image_meta"),
    )


def synth_jpeg_bytes(seed: int, width: int = 32, height: int = 32,
                     quality: int = 85) -> bytes:
    """Deterministic RGB JPEG via the repo's pure-numpy baseline encoder
    (``.jpeg.encode_jpeg``) over the SAME :func:`_synth_rgb` content as
    ``synth_png_bytes`` — *real* JFIF bytes any image tool can open."""
    from .jpeg import encode_jpeg

    return encode_jpeg(_synth_rgb(seed, width, height), quality=quality)


def attach_jpeg_images(docs: DataFrame, width: int = 32,
                       height: int = 32) -> DataFrame:
    """Fixture adapter: a **real** baseline-JPEG binary column (pure
    numpy encoder, seeded by doc_id) + typed metadata."""
    @F.pandas_udf("binary")
    def make_jpeg(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_jpeg_bytes(int(i), width, height))

    return docs.select(
        "doc_id",
        make_jpeg("doc_id").alias("image"),
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("jpeg/rgb8").alias("format"),
        ).alias("image_meta"),
    )


def synth_webp_bytes(seed: int, width: int = 32, height: int = 32) -> bytes:
    """Deterministic lossless-WebP payload via the repo's pure-Python
    VP8L encoder (``.webp.encode_webp``) over the SAME
    :func:`_synth_rgb` content as the PNG/JPEG twins — *real* RIFF/WEBP
    bytes any image tool can open. Feature flags vary by seed so the
    corpus exercises subtract-green, LZ77, color cache and predictor
    paths of the decoder, not just plain literals."""
    from .webp import encode_webp

    arr = _synth_rgb(seed, width, height)
    kw = (
        {},
        dict(subtract_green=True),
        dict(cache_bits=6, lz77=True),
        dict(predictor_mode=7),
    )[seed % 4]
    return encode_webp(arr, **kw)


def attach_webp_images(docs: DataFrame, width: int = 32,
                       height: int = 32) -> DataFrame:
    """Fixture adapter: a **real** lossless-WebP binary column (pure
    Python VP8L encoder, seeded by doc_id) + typed metadata."""
    @F.pandas_udf("binary")
    def make_webp(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_webp_bytes(int(i), width, height))

    return docs.select(
        "doc_id",
        make_webp("doc_id").alias("image"),
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(3).alias("channels"),
            F.lit("webp/rgb8-lossless").alias("format"),
        ).alias("image_meta"),
    )


def decode_image(df: DataFrame) -> DataFrame:
    """binary → decoded pixel stats via mapInPandas (Arrow batches).

    A **real decoder**, dispatched on the payload's
    magic bytes: PNG (``\\x89PNG``, pure-stdlib codec in ``..sinks.png``),
    baseline JPEG (``\\xff\\xd8``, pure numpy codec in ``.jpeg``) and
    lossless WebP (``RIFF..WEBP``, pure-Python VP8L codec in ``.webp`` —
    round 10; lossy VP8 remains the one documented non-goal) — no
    third-party image library anywhere.
    """
    out_schema = (
        "doc_id long, width int, height int, mean_r double, mean_g double, "
        "mean_b double, brightness double"
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = _decode_rgb(bytes(r["image"]))  # (h, w, 3)
                h, w = arr.shape[:2]
                means = arr.reshape(-1, arr.shape[-1]).mean(axis=0)
                rows.append(
                    (r["doc_id"], w, h, float(means[0]), float(means[1]),
                     float(means[2]), float(means.mean()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "mean_r", "mean_g",
                         "mean_b", "brightness"],
            )

    return df.mapInPandas(decode_batch, out_schema)


def _decode_rgb(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch to the real codecs: JPEG SOI → pure-numpy
    T.81 decoder, RIFF/WEBP → pure-Python VP8L (lossless; lossy VP8
    raises its named error), else PNG (grayscale replicated, alpha
    dropped). Returns (h, w, 3) uint8."""
    from ..sinks.png import decode_png
    from .jpeg import decode_jpeg

    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(payload)
    chw = decode_png(payload)
    if chw.shape[0] == 1:
        chw = np.repeat(chw, 3, axis=0)
    elif chw.shape[0] == 4:
        chw = chw[:3]
    return np.transpose(chw, (1, 2, 0))


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode (PNG/JPEG) → nearest-neighbor resize → re-encode PNG, as
    one Arrow-batched mapInPandas pass — the thumbnail/normalize step a
    multimodal training pipeline runs before feature extraction.

    Nearest-neighbor (source index = floor(i·src/dst)) so the output is
    bit-deterministic across engines and numpy versions; the re-encoded
    payload is the repo's real PNG (content-addressed ⇒ the output
    column's md5 is a stable oracle witness). Blobs never shuffle: the
    resize happens in the same stage as the scan that read them.
    """
    out_schema = "doc_id long, image binary, image_meta struct<" \
        "width: int, height: int, channels: int, format: string>"

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sinks.png import encode_png

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = _decode_rgb(bytes(r["image"]))  # (h, w, 3)
                h, w = arr.shape[:2]
                yi = (np.arange(out_h) * h) // out_h
                xi = (np.arange(out_w) * w) // out_w
                small = arr[yi][:, xi]  # (out_h, out_w, 3)
                payload = encode_png(np.transpose(small, (2, 0, 1)))
                rows.append((r["doc_id"], payload,
                             {"width": out_w, "height": out_h,
                              "channels": 3, "format": "png/rgb8"}))
            yield pd.DataFrame(
                rows, columns=["doc_id", "image", "image_meta"]
            )

    return df.mapInPandas(resize_batch, out_schema)


def image_features(df: DataFrame) -> DataFrame:
    """Decode → fixed-length feature vector (the hand-rolled stand-in
    for a vision-encoder embedding; the Spark-side plumbing — schema,
    batch shape, downstream ANN compatibility — is what's real):
    per-channel mean and std, mean |horizontal gradient| (edge energy),
    and an 8-bin luminance histogram, L1-normalized → `array<double>`
    of 15. Deterministic integer/float arithmetic on uint8 input;
    rounded to 7 decimals so the gate can pin exact values.

    Output embeds directly into the similarity ops (`array<float>`
    cast) — decode → features → `brute_force_topk`/`ivf_*` is the
    multimodal retrieval composition."""
    out_schema = "doc_id long, features array<double>"

    def feat_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = _decode_rgb(bytes(r["image"])).astype(np.float64)
                means = arr.reshape(-1, 3).mean(axis=0)
                stds = arr.reshape(-1, 3).std(axis=0)
                # elementwise, NOT `arr @ weights`: BLAS gemv's summation
                # order varies with threading/alignment, and a 1-ulp lum
                # difference flips histogram bins for pixels landing
                # exactly on a bin edge (observed: fixture-time vs
                # Spark-worker-time disagreed on one 79th/80th pixel).
                # Ufunc adds in this fixed order are deterministic.
                lum = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] \
                    + 0.114 * arr[..., 2]
                if arr.shape[1] > 1:
                    grad = np.abs(np.diff(lum, axis=1)).mean()
                else:
                    grad = 0.0
                hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
                hist = hist / max(hist.sum(), 1)
                feats = [*means, *stds, grad, *hist]
                rows.append((r["doc_id"],
                             [round(float(v), 7) for v in feats]))
            yield pd.DataFrame(rows, columns=["doc_id", "features"])

    return df.mapInPandas(feat_batch, out_schema)


def synth_wav_bytes(seed: int, sample_rate: int = 8000,
                    n_samples: int = 2048) -> bytes:
    """Deterministic mono PCM16 RIFF/WAV: a seed-pitched sine plus seeded
    noise, encoded with the stdlib ``wave`` module — *real* WAV bytes any
    audio tool can open, content-addressed so fixtures are reproducible."""
    import io
    import wave as _wave

    rng = np.random.default_rng(seed % (2 ** 32))
    freq = 110.0 * (1 + seed % 32)  # 110 Hz .. 3.6 kHz
    t = np.arange(n_samples, dtype="float64") / sample_rate
    x = 0.5 * np.sin(2 * np.pi * freq * t) + rng.normal(0.0, 0.1, n_samples)
    pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def attach_wav_audio(docs: DataFrame, sample_rate: int = 8000,
                     n_samples: int = 2048) -> DataFrame:
    """Fixture adapter: a **real** RIFF/WAV binary column (stdlib encoder,
    seeded by doc_id) + typed metadata. Arrow-batched pandas UDF — the
    payload never leaves the executor that synthesized it."""
    @F.pandas_udf("binary")
    def make_wav(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_wav_bytes(int(i), sample_rate, n_samples))

    return docs.select(
        "doc_id",
        make_wav("doc_id").alias("audio"),
        F.struct(
            F.lit(sample_rate).alias("sample_rate"),
            F.lit(n_samples).alias("n_samples"),
            F.lit(1).alias("channels"),
            F.lit("wav/pcm_s16le").alias("format"),
        ).alias("audio_meta"),
    )


def _check_pcm16_mono(w, doc_id) -> None:
    """The WAV decode paths assume 16-bit mono PCM (``<i2`` frame
    layout); a stereo or 8-bit payload would otherwise produce a
    silently wrong waveform. Named error, decode_jpeg's
    explicit-contract style."""
    sw, nch = w.getsampwidth(), w.getnchannels()
    if sw != 2 or nch != 1:
        raise ValueError(
            f"doc_id={doc_id}: only PCM16 mono WAV is supported "
            f"(got sample width {sw * 8} bits, {nch} channels)"
        )


def decode_audio(df: DataFrame) -> DataFrame:
    """binary → waveform features via mapInPandas (Arrow batches): RMS,
    peak, zero-crossing rate, duration.

    A **real decoder**: stdlib ``wave`` + numpy parse RIFF/WAV (PCM16)
    payloads — no third-party codec needed."""
    out_schema = (
        "doc_id long, duration_s double, rms double, peak double, "
        "zero_crossing_rate double"
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as _wave

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                with _wave.open(io.BytesIO(bytes(r["audio"])), "rb") as w:
                    _check_pcm16_mono(w, r["doc_id"])
                    sr = w.getframerate()
                    n = w.getnframes()
                    raw = w.readframes(n)
                wave_f = (
                    np.frombuffer(raw, dtype="<i2").astype("float64") / 32768.0
                )
                zc = float(np.mean(np.abs(np.diff(np.signbit(wave_f)))))
                rows.append(
                    (r["doc_id"], n / sr, float(np.sqrt(np.mean(wave_f ** 2))),
                     float(np.abs(wave_f).max()), zc)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "duration_s", "rms", "peak",
                         "zero_crossing_rate"],
            )

    return df.mapInPandas(decode_batch, out_schema)


def frame_sample(df: DataFrame, every_n: int = 10, n_frames: int = 100) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index.
    The decode itself is the same stub boundary as decode_image."""
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1), F.lit(every_n))
    return df.select("doc_id", F.explode(idx).alias("frame_idx"))


def audio_spectral_features(df: DataFrame, rolloff: float = 0.85,
                            n_bands: int = 4) -> DataFrame:
    """WAV binary → frequency-domain features via numpy rFFT: dominant
    frequency, spectral centroid, spectral rolloff, and ``n_bands``
    equal-width band-energy fractions — the audio-encoder stand-in
    (real DSP, no third-party codec) whose fixed-length output plugs
    into the similarity ops exactly like image_features does for
    pixels.

    Arrow-batched mapInPandas over the RIFF/WAV payloads (stdlib
    ``wave`` + numpy, the decode_audio path); only the
    feature rows leave the executor — at scale the plan is the same
    zero-exchange scan-fused shape as every other multimodal op.
    Deterministic: rFFT of a deterministic payload; fixed-value oracle
    discipline (double-run checked at capture).
    """
    band_cols = [f"band_frac_{b}" for b in range(n_bands)]
    out_schema = (
        "doc_id long, dominant_freq_hz double, spectral_centroid_hz double, "
        "spectral_rolloff_hz double, "
        + ", ".join(f"{c} double" for c in band_cols)
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as _wave

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                with _wave.open(io.BytesIO(bytes(r["audio"])), "rb") as w:
                    _check_pcm16_mono(w, r["doc_id"])
                    sr = w.getframerate()
                    n = w.getnframes()
                    raw = w.readframes(n)
                x = np.frombuffer(raw, dtype="<i2").astype("float64") / 32768.0
                power = np.abs(np.fft.rfft(x)) ** 2
                freqs = np.fft.rfftfreq(n, 1.0 / sr)
                total = float(power.sum())
                if total <= 0.0:
                    rows.append((r["doc_id"], 0.0, 0.0, 0.0) + (0.0,) * n_bands)
                    continue
                dom = float(freqs[1 + int(np.argmax(power[1:]))])  # skip DC
                centroid = float((freqs * power).sum() / total)
                roll = float(freqs[int(np.searchsorted(
                    np.cumsum(power), rolloff * total))])
                nyq = sr / 2.0
                edges = np.linspace(0.0, nyq, n_bands + 1)
                # last band closes at Nyquist inclusively, so the
                # fractions partition the full spectrum (sum == 1)
                fracs = tuple(
                    float(power[(freqs >= edges[b])
                                & ((freqs < edges[b + 1])
                                   | (b == n_bands - 1))].sum() / total)
                    for b in range(n_bands)
                )
                rows.append((r["doc_id"], dom, centroid, roll) + fracs)
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "dominant_freq_hz", "spectral_centroid_hz",
                         "spectral_rolloff_hz", *band_cols],
            )

    return df.mapInPandas(feats, out_schema)


def image_phash(df: DataFrame) -> DataFrame:
    """Perceptual hash (pHash) over the binary image column: decode →
    fixed-order grayscale → nearest-neighbor 32×32 → 2-D DCT-II → the
    8×8 low-frequency block → 1 bit per coefficient (above the median
    of the 63 AC coefficients; DC excluded) — the classic 64-bit image
    near-dup fingerprint, built entirely on the repo's own codecs.

    The hash ships as FOUR 16-bit non-negative ints ``ph0..ph3`` (bit
    r*8+c of the row-major grid, band i = bits 16i..16i+15): small
    positive ints need no signed-shift care in either engine, band keys
    for LSH bucketing are just the columns, and Hamming distance is a
    sum of four ``bit_count(xor(...))`` terms. Coefficients round to 7
    decimals before the median compare (the image_features ulp lesson),
    so the bit pattern is stable across BLAS builds.
    """
    out_schema = "doc_id long, ph0 int, ph1 int, ph2 int, ph3 int"
    n = 32
    k = np.arange(n)
    dct = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1)
                                    * k[:, None] / (2 * n))
    dct[0] *= 1.0 / np.sqrt(2.0)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = _decode_rgb(bytes(r["image"])).astype(np.float64)
                lum = 0.299 * arr[..., 0] + 0.587 * arr[..., 1] \
                    + 0.114 * arr[..., 2]
                h, w = lum.shape
                yi = (np.arange(n) * h) // n
                xi = (np.arange(n) * w) // n
                small = lum[yi][:, xi]
                coeffs = dct @ small @ dct.T
                block = np.round(coeffs[:8, :8], 7)
                flat = block.reshape(-1)
                med = float(np.median(flat[1:]))  # DC excluded
                bits = (flat > med).astype(np.int64)
                bits[0] = 0
                bands = []
                for b in range(4):
                    v = 0
                    for j in range(16):
                        v |= int(bits[16 * b + j]) << j
                    bands.append(v)
                rows.append((r["doc_id"], *bands))
            yield pd.DataFrame(
                rows, columns=["doc_id", "ph0", "ph1", "ph2", "ph3"]
            )

    return df.mapInPandas(hash_batch, out_schema)


def phash_band_slices(max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) slices of the 64-bit pHash for the banding
    join: ``max(max_hamming + 1, 4)`` near-equal-width bands. The
    pigeonhole recall guarantee holds for ANY band count ≥
    ``max_hamming + 1`` (≤ max_hamming differing bits across nb bands
    leave ≥ nb − max_hamming ≥ 1 bands untouched), so candidate recall
    at the verify threshold is exactly 1 — a theorem, not an
    expectation (round-8 fix: the old fixed 4×16-bit banding only
    guaranteed recall to Hamming ≤ 3 while the default verify threshold
    was 10, and the cross-codec plant measured the gap at 15/16).

    The floor of 4 bands keeps every slice ≤ 16 bits wide, so
    ``phash_band_value_sql``'s two-word/no-overflow invariant holds at
    every accepted threshold (round-9 fix: at ``max_hamming = 0`` a
    single 64-bit band silently dropped bits 32–63 from the bucket key,
    and at 1 the 32-bit band value wrapped the downstream int cast)."""
    if not 0 <= max_hamming <= 32:
        raise ValueError(
            f"max_hamming must be in [0, 32] (got {max_hamming}); above "
            "32 the banding would need >33 bands of <2 bits and the "
            "bucket join degenerates toward all-pairs"
        )
    nb = max(max_hamming + 1, 4)
    w, extra = divmod(64, nb)
    slices, start = [], 0
    for i in range(nb):
        width = w + (1 if i < extra else 0)
        slices.append((start, width))
        start += width
    return slices


def phash_band_value_sql(start: int, width: int, div_op: str = "DIV") -> str:
    """SQL expression for bits ``[start, start+width)`` of the 64-bit
    hash stored as four 16-bit words ``ph0..ph3`` — per-word integer
    div/mod only (a slice of width ≤ 16 spans at most two adjacent
    words), so every intermediate stays < 2^16 and neither engine can
    overflow (reassembling the full 64-bit value overflows signed int64
    whenever bit 63 is set). ``div_op``: "DIV" for Spark SQL, "//" for
    DuckDB — the one dialect difference."""
    w0, o = divmod(start, 16)
    lo_bits = 16 - o
    if width <= lo_bits:
        return f"((ph{w0} {div_op} {1 << o}) % {1 << width})"
    hi = width - lo_bits
    return (
        f"((ph{w0} {div_op} {1 << o}) "
        f"+ (ph{w0 + 1} % {1 << hi}) * {1 << lo_bits})"
    )


def phash_near_dup_pairs(hashes: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Image near-dup pairs from pHash fingerprints: candidates share at
    least one exact band of the 64-bit hash, where the banding is
    DERIVED from the verify threshold — ``max(max_hamming + 1, 4)``
    near-equal bit-slices (``phash_band_slices``), so any pair at Hamming
    distance
    ≤ ``max_hamming`` is guaranteed a shared band by pigeonhole and
    candidate recall at the threshold is 1 (gated by the
    phash_recall_tiers oracle row). Each candidate then verifies
    EXACTLY with an integer Hamming distance — four
    ``bit_count(xor(...))`` terms, engine-identical.

    Never all-pairs: the band self-join is the only pair generator.
    Candidate volume scales as ``n_bands · Σ_bucket n_b²`` with
    ~2^(64/n_bands) buckets per band — tighter thresholds give
    exponentially finer buckets, so choose the smallest ``max_hamming``
    the use case needs. Output: (doc_a, doc_b, hamming).
    """
    slices = phash_band_slices(max_hamming)
    band_structs = [
        F.struct(
            F.lit(i).alias("bi"),
            F.expr(phash_band_value_sql(s, width, "DIV"))
            .cast("int")
            .alias("bv"),
        )
        for i, (s, width) in enumerate(slices)
    ]
    bands = hashes.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", F.col("bk.bi").alias("bi"), F.col("bk.bv").alias("bv"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["bi", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
    )
    ha = hashes.select(
        F.col("doc_id").alias("_ida"),
        *[F.col(f"ph{i}").alias(f"_a{i}") for i in range(4)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("_idb"),
        *[F.col(f"ph{i}").alias(f"_b{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.expr(f"_a{i} ^ _b{i}")) for i in range(4)
    ).cast("int")
    return (
        cand.join(ha, cand.doc_a == ha._ida)
        .join(hb, cand.doc_b == hb._idb)
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
